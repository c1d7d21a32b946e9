package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Op, Tables}
import graft.functions.HexKey
import graft.text.Text

/** Text preprocessing, feature extraction, scoring and screening metrics
  * (SURVEY §2 rows 33–40 + 43–47) — the reference pipeline's core,
  * re-expressed as declarative Spark plans over the `documents` table.
  *
  * Reference: /root/reference/README.md:1-6 (van den Bulk, Bouzembrak,
  * Gavai, Liu, van den Heuvel, Marvin — "Automatic classification of
  * literature in systematic reviews on food safety using machine
  * learning", WFSR; supplementary repo pointer).
  *
  * Reference semantics (van den Bulk et al., systematic-review screening):
  * tokenize → stop-words → TF-IDF (sklearn smoothed idf) → linear scoring
  * → precision/recall/F1 + WSS@95. All per-row ops are codegen'd built-in
  * expressions; corpus-level stats (N, df) are tiny aggregates joined back
  * via broadcast — no shuffle on the document side.
  */
object TextOps {
  import Text._

  /** repartition fans the tokenizer out past the (single, at test SF)
    * parquet split — see [[DedupOps.docShingles]]. */
  /** cache(): every text op starts from this tokenized projection, and
    * several (q101/q102's sketch+recount, q36's tf/df passes) scan it
    * twice within one plan — the family cache group (SparkEntry
    * .opGroups) holds ONE tokenized corpus copy for the family's
    * lifetime and structural-match reuses it across all ~25 consumers
    * (DedupOps' span family included), exactly the
    * [[DedupOps.docShingles]] pattern (MEMORY_AND_DISK,
    * executor-local, evicted at the family boundary). */
  private[graft] def docsWithToks(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism)
      .withColumn("toks", tokens(col("text")))
      .cache()

  // --- 33. tokenize → explode → corpus word count ----------------------
  def q33(s: SparkSession, dir: String): DataFrame =
    docsWithToks(s, dir)
      .select(col("doc_id"), explode(col("toks")).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("df"))
      .orderBy(col("token"))

  val q33Sql: String =
    s"""SELECT token, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS df FROM (
       |  SELECT doc_id, unnest($toksSql) AS token FROM documents) t
       |GROUP BY token
       |ORDER BY token""".stripMargin

  // --- 34. stop-word removal + per-doc term frequency -------------------
  def q34(s: SparkSession, dir: String): DataFrame =
    docsWithToks(s, dir)
      .select(col("doc_id"), explode(col("toks")).as("token"))
      .filter(!col("token").isin(Stopwords: _*))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
      .orderBy(col("doc_id"), col("token"))

  val q34Sql: String =
    s"""SELECT doc_id, token, COUNT(*) AS tf FROM (
       |  SELECT doc_id, unnest($toksSql) AS token FROM documents) t
       |WHERE token NOT IN $StopwordsSqlList
       |GROUP BY doc_id, token
       |ORDER BY doc_id, token""".stripMargin

  // --- 35. word bigrams --------------------------------------------------
  def q35(s: SparkSession, dir: String): DataFrame =
    docsWithToks(s, dir)
      .select(explode(shingles(col("toks"), 2)).as("gram"))
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("gram"))
      .limit(100)

  val q35Sql: String =
    s"""SELECT gram, COUNT(*) AS n FROM (
       |  SELECT unnest(${shinglesSql("toks", 2)}) AS gram FROM (
       |    SELECT $toksSql AS toks FROM documents) d) g
       |GROUP BY gram
       |ORDER BY n DESC, gram
       |LIMIT 100""".stripMargin

  // --- 36. corpus TF-IDF (sklearn smoothed idf) -------------------------
  /** Plan shape for scale: `tf` is one shuffle on (doc_id, token); `df`
    * aggregates to |vocab| rows (tiny vs corpus) and joins back broadcast;
    * N is a 1-row aggregate cross-joined in. No O(corpus) shuffle beyond
    * the tf groupBy.
    */
  def q36(s: SparkSession, dir: String): DataFrame = {
    val tok = docsWithToks(s, dir)
      .select(col("doc_id"), explode(col("toks")).as("token"))
    val tf = tok.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val dfreq = tok.groupBy(col("token").as("t2"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val n = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
    tf.join(broadcast(dfreq), col("token") === col("t2"))
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("token"), col("tf"),
        round(col("tf") * idf(col("n_docs"), col("df")), 6).as("tfidf"))
      .orderBy(col("doc_id"), col("token"))
      // cache: the scoring/eval/CV ops (q38–q43) embed this exact subplan;
      // Spark's CacheManager matches it structurally and reuses the
      // materialized features instead of re-running the tf/df shuffles
      .cache()
  }

  val q36Sql: String =
    s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS token FROM documents),
       |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token),
       |dfreq AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token),
       |n AS (SELECT COUNT(*) AS n_docs FROM documents)
       |SELECT doc_id, tf.token AS token, tf,
       |  round(tf * (${idfSql("n_docs", "df")}), 6) AS tfidf
       |FROM tf JOIN dfreq ON tf.token = dfreq.token CROSS JOIN n
       |ORDER BY doc_id, token""".stripMargin

  // --- 37. hashing-trick TF (md5-derived buckets) — oracle-checked -------
  /** Hashing trick with an ENGINE-PORTABLE hash: bucket = md5 60-bit
    * prefix mod 1024 (r1 used Spark's murmur3 `hash()`, which no other
    * engine replays — downgrading this op to a rows-only check). md5 is
    * identical everywhere, so the DuckDB oracle now verifies the exact
    * bucket contents; the prefix stays ≤ 60 bits → never negative. */
  def q37(s: SparkSession, dir: String): DataFrame =
    docsWithToks(s, dir)
      .select(col("doc_id"), explode(col("toks")).as("token"))
      .withColumn("bucket",
        (conv(substring(md5(col("token")), 1, 15), 16, 10)
          .cast("long") % 1024).cast("long"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).as("tf"))
      .orderBy(col("doc_id"), col("bucket"))

  val q37Sql: String =
    s"""SELECT doc_id,
       |  CAST(('0x' || substr(md5(token), 1, 15)) AS BIGINT) % 1024 AS bucket,
       |  COUNT(*) AS tf
       |FROM (SELECT doc_id, unnest($toksSql) AS token FROM documents) t
       |GROUP BY doc_id, bucket
       |ORDER BY doc_id, bucket""".stripMargin

  // --- 38. linear-model scoring over TF-IDF -----------------------------
  /** Fixed, data-independent weights w(token) = (len(token) − 4)/7 —
    * a stand-in for trained coefficients that any ANSI engine can
    * replicate; the MLlib-trained counterpart is q41.
    *
    * The divisor is deliberately NOT a power of 10: a 6-decimal tfidf ×
    * k/10 is an exact 7-decimal number that can end in "…5" — precisely
    * on the round(…,6) halfway point, where Spark (shortest-repr
    * BigDecimal HALF_UP) and other engines (binary-value rounding)
    * systematically disagree. k/7 products never terminate, so no
    * rounded value sits on a boundary. */
  def q38(s: SparkSession, dir: String): DataFrame = {
    val scored = q36(s, dir)
      .withColumn("w", (length(col("token")) - 4).cast("double") / 7.0)
      .groupBy(col("doc_id"))
      .agg(round(sum(round(col("tfidf") * col("w"), 6)), 6).as("score"))
      // cache: the whole evaluation family (q39/q40/q43/q63/q76) starts
      // from this per-doc scored relation — one |docs|-row entry the
      // CacheManager structurally reuses instead of re-running the
      // feature aggregation per consumer (r6 VERDICT #3: q40's cost was
      // dominated by rebuilding this from the q36 cache every call)
      .cache()
    scored
      .select(col("doc_id"), col("score"),
        when(col("score") > 1.0, 1).otherwise(0).as("pred"))
      .orderBy(col("doc_id"))
  }

  /** q36 without its trailing ORDER BY, for embedding as a CTE body
    * (DuckDB allows a nested WITH inside a CTE). */
  private lazy val q36SqlNoOrder: String = q36Sql.split("\nORDER BY")(0)

  lazy val q38Sql: String =
    s"""WITH tfidf AS ($q36SqlNoOrder)
       |SELECT doc_id, round(SUM(round(tfidf * (CAST(LENGTH(token) - 4 AS DOUBLE) / 7.0), 6)), 6) AS score,
       |  CASE WHEN round(SUM(round(tfidf * (CAST(LENGTH(token) - 4 AS DOUBLE) / 7.0), 6)), 6) > 1.0
       |    THEN 1 ELSE 0 END AS pred
       |FROM tfidf
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  private[operators] lazy val q38SqlNoOrder: String = q38Sql.split("\nORDER BY")(0)

  // --- 39. classifier evaluation: precision / recall / F1 ---------------
  /** Ground truth: lang = 'en'; predictions from q38. One confusion-matrix
    * row — the reference's core evaluation step. */
  def q39(s: SparkSession, dir: String): DataFrame = {
    val truth = Tables.documents(s, dir)
      .select(col("doc_id").as("d2"), (col("lang") === "en").cast("int").as("y"))
    q38(s, dir).join(truth, col("doc_id") === col("d2"))
      .agg(
        sum(when(col("pred") === 1 && col("y") === 1, 1).otherwise(0)).as("tp"),
        sum(when(col("pred") === 1 && col("y") === 0, 1).otherwise(0)).as("fp"),
        sum(when(col("pred") === 0 && col("y") === 1, 1).otherwise(0)).as("fn"),
        sum(when(col("pred") === 0 && col("y") === 0, 1).otherwise(0)).as("tn"))
      .select(col("tp"), col("fp"), col("fn"), col("tn"),
        // ratios of exact counts round through integer micros — round(x,6)
        // of a small-denominator rational can sit ON the .5e-6 boundary
        // where double rounding is engine-ambiguous (graft.functions.Num)
        graft.functions.Num.ratio6(col("tp"), col("tp") + col("fp")).as("precision"),
        graft.functions.Num.ratio6(col("tp"), col("tp") + col("fn")).as("recall"),
        graft.functions.Num.ratio6(lit(2) * col("tp"),
          lit(2) * col("tp") + col("fp") + col("fn")).as("f1"))
  }

  lazy val q39Sql: String =
    s"""WITH preds AS ($q38SqlNoOrder),
       |cm AS (
       |  SELECT
       |    CAST(SUM(CASE WHEN pred = 1 AND lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |    CAST(SUM(CASE WHEN pred = 1 AND lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       |    CAST(SUM(CASE WHEN pred = 0 AND lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS fn,
       |    CAST(SUM(CASE WHEN pred = 0 AND lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS tn
       |  FROM preds JOIN documents USING (doc_id))
       |SELECT tp, fp, fn, tn,
       |  ${graft.functions.Num.ratio6Sql("tp", "tp + fp")} AS precision,
       |  ${graft.functions.Num.ratio6Sql("tp", "tp + fn")} AS recall,
       |  ${graft.functions.Num.ratio6Sql("2 * tp", "2 * tp + fp + fn")} AS f1
       |FROM cm""".stripMargin

  // --- 40. WSS@95 screening metric ---------------------------------------
  /** Shared scaffolding for the two screening metrics (q40/q63): one row
    * (n_docs, n_pos, t, k_at_95, threshold), computed WITHOUT ranking the
    * corpus in a single task. The ranked-prefix semantics reduce to an
    * order statistic: the first rank where cum_pos ≥ T (T = ⌈0.95·n_pos⌉)
    * is exactly where the T-th positive sits (cum_pos climbs by ≤ 1), so
    *   1. [[graft.functions.OrderStats.keysAtRanks]] finds that positive's
    *      key (s*, d*) under (score desc, doc_id) order via histogram
    *      bins + one narrow per-bin pass — no unpartitioned window over
    *      per-document rows;
    *   2. k_at_95 = |{score > s*}| + |{score = s* ∧ doc_id ≤ d*}| — one
    *      plain aggregate over the scored corpus.
    * The previous formulation (`row_number().over(Window.orderBy(…))`)
    * was the bench's slowest plan and a guaranteed 100× scale-killer.
    */
  private def screeningStats(s: SparkSession, dir: String): DataFrame = {
    val truth = Tables.documents(s, dir)
      .select(col("doc_id").as("d2"), (col("lang") === "en").cast("int").as("y"))
    screeningStatsOf(q38(s, dir).join(truth, col("doc_id") === col("d2"))
      .select(col("doc_id"), col("score"), col("y")))
  }

  /** The order-statistic screening scaffold over ANY scored relation
    * (doc_id, score: double, y: 0/1) — q40/q63 feed it the fixed-weight
    * q38 score, a trained classifier's probability works the same way.
    *
    * Eager by design: every output is driver-sized (one row), and
    * [[graft.functions.OrderStats.keysAtRanks]] already runs its
    * refinement as small jobs at call time. Being eager lets the cache
    * on `scored` — which the several aggregate passes here need, since
    * `scored` is usually an expensive derived relation — be OWNED and
    * released inside this call, instead of pinning a session-lifetime
    * entry for callers outside the harness's group-scoped cache
    * lifecycle (ADVICE r2). */
  private[operators] def screeningStatsOf(scored: DataFrame): DataFrame = {
    val s = scored.sparkSession
    import s.implicits._
    val sc = scored.select(col("doc_id"), col("score"), col("y")).cache()
    try {
      // ONE fused pass (r6 VERDICT #3): corpus totals AND the rank
      // search's global stats — over positives and over all docs, both
      // conditionally, since which one is the ranking basis depends on
      // n_pos, known only after this very aggregate.
      val pos = col("y") === 1
      val tot = sc.agg(count(lit(1)), sum(col("y")),
        min(when(pos, negate(col("score")))), max(when(pos, negate(col("score")))),
        min(when(pos, col("doc_id"))), max(when(pos, col("doc_id"))),
        min(negate(col("score"))), max(negate(col("score"))),
        min(col("doc_id")), max(col("doc_id"))).head()
      val nDocs = tot.getLong(0)
      val nPos = if (tot.isNullAt(1)) 0L else tot.getLong(1)
      if (nDocs == 0)
        return Seq((0L, 0L, 0L, 0L, Option.empty[Double]))
          .toDF("n_docs", "n_pos", "t", "k_at_95", "threshold")
      // degenerate corpus (zero positives): T = 0 and the old window form
      // satisfies cum_pos ≥ 0 at rank 1, i.e. the boundary is the globally
      // top-scored doc. Mirror it: rank max(T,1) over positives — or over
      // ALL docs when there are none — keeps the oracle parity.
      val t = math.ceil(0.95 * nPos).toLong
      val (sStar, k) =
        if (nDocs <= graft.functions.OrderStats.LeafCap) {
          // SMALL-RELATION FAST PATH (adaptive, the per-leaf bound
          // OrderStats already enforces): when the whole scored relation
          // fits one leaf, a single sorted-collect pass both locates the
          // T-th positive and counts its prefix — one job instead of
          // two. Above the cap the multi-pass refinement runs and no
          // single task ever sorts more than leafCap rows.
          val basisArr =
            if (nPos == 0) col("arr")
            else filter(col("arr"), s => s.getField("y") === 1)
          val row = sc
            .agg(sort_array(collect_list(struct(
              negate(col("score")).as("v"), col("doc_id").as("id"),
              col("y")))).as("arr"))
            .select(element_at(basisArr, math.max(t, 1L).toInt).as("b"), col("arr"))
            .select(col("b"),
              size(filter(col("arr"), s =>
                s.getField("v") < col("b.v") ||
                  (s.getField("v") === col("b.v") &&
                    s.getField("id") <= col("b.id")))).cast("long").as("k"))
            .head()
          (-row.getStruct(0).getDouble(0), row.getLong(1))
        } else {
          val basis = (if (nPos == 0) sc else sc.filter(pos))
            .select(negate(col("score")).as("v"), col("doc_id").as("id"))
          val off = if (nPos == 0) 6 else 2 // which glob columns describe basis
          val glob = (if (nPos == 0) nDocs else nPos,
            tot.getDouble(off), tot.getDouble(off + 1),
            tot.getLong(off + 2), tot.getLong(off + 3))
          val targets = Seq((1, math.max(t, 1L))).toDF("idx", "t")
          val b = graft.functions.OrderStats.keysAtRanks(basis, targets,
            preGlob = Some(glob)).head()
          val sS = -b.getDouble(2)
          val dStar = b.getLong(3)
          // k_at_95 = |{score > s*}| + |{score = s* ∧ doc_id ≤ d*}|
          val kk = sc.agg(sum(when(col("score") > lit(sS) ||
              (col("score") === lit(sS) && col("doc_id") <= lit(dStar)), 1L)
            .otherwise(0L))).head().getLong(0)
          (sS, kk)
        }
      Seq((nDocs, nPos, t, k, Option(sStar)))
        .toDF("n_docs", "n_pos", "t", "k_at_95", "threshold")
    } finally sc.unpersist()
  }

  /** Work Saved over Sampling at 95 % recall: rank docs by score desc,
    * find the smallest prefix reaching 95 % of positives, WSS = (1 − k/N)
    * − 0.05. THE systematic-review screening metric (reference paper §2.4).
    */
  def q40(s: SparkSession, dir: String): DataFrame =
    screeningStats(s, dir)
      .select(col("n_docs"), col("n_pos"), col("k_at_95"),
        // 1 − k/n − 0.05 ≡ (19n − 20k)/(20n): an exact integer ratio,
        // rounded boundary-free through Num.ratio6
        graft.functions.Num.ratio6(
          lit(19) * col("n_docs") - lit(20) * col("k_at_95"),
          lit(20) * col("n_docs")).as("wss95"))

  lazy val q40Sql: String =
    s"""WITH preds AS ($q38SqlNoOrder),
       |ranked AS (
       |  SELECT p.doc_id, p.score, CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y,
       |    ROW_NUMBER() OVER (ORDER BY p.score DESC, p.doc_id) AS rank,
       |    SUM(CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END)
       |      OVER (ORDER BY p.score DESC, p.doc_id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos
       |  FROM preds p JOIN documents d USING (doc_id)),
       |tot AS (SELECT COUNT(*) AS n_docs, CAST(SUM(y) AS BIGINT) AS n_pos FROM ranked)
       |SELECT n_docs, n_pos, MIN(rank) AS k_at_95,
       |  ${graft.functions.Num.ratio6Sql("19 * n_docs - 20 * MIN(rank)", "20 * n_docs")} AS wss95
       |FROM ranked CROSS JOIN tot
       |WHERE cum_pos >= ceil(0.95 * n_pos)
       |GROUP BY n_docs, n_pos""".stripMargin

  // --- 43. deterministic k-fold cross-validation -------------------------
  def q43(s: SparkSession, dir: String): DataFrame = {
    val truth = Tables.documents(s, dir)
      .select(col("doc_id").as("d2"), (col("lang") === "en").cast("int").as("y"))
    q38(s, dir).join(truth, col("doc_id") === col("d2"))
      .withColumn("fold", pmod(col("doc_id"), lit(5)))
      .groupBy(col("fold"))
      .agg(count(lit(1)).as("n"),
        graft.functions.Num.ratio6(
          sum(when(col("pred") === col("y"), 1L).otherwise(0L)),
          count(lit(1))).as("accuracy"))
      .orderBy(col("fold"))
  }

  // double-mod ≡ pmod for ALL ids incl. negative (the q156 sign-safety
  // rule — plain SQL % keeps the sign, Spark's pmod does not)
  lazy val q43Sql: String =
    s"""WITH preds AS ($q38SqlNoOrder)
       |SELECT ((doc_id % 5) + 5) % 5 AS fold, COUNT(*) AS n,
       |  ${graft.functions.Num.ratio6Sql(
            "CAST(SUM(CASE WHEN pred = (CASE WHEN lang = 'en' THEN 1 ELSE 0 END) " +
              "THEN 1 ELSE 0 END) AS BIGINT)", "COUNT(*)")} AS accuracy
       |FROM preds JOIN documents USING (doc_id)
       |GROUP BY fold
       |ORDER BY fold""".stripMargin

  // --- 44. marker-word language ID ---------------------------------------
  def q44(s: SparkSession, dir: String): DataFrame =
    docsWithToks(s, dir)
      .withColumn("pred_lang",
        when(array_contains(col("toks"), "the"), "en")
          .when(array_contains(col("toks"), "der") ||
            array_contains(col("toks"), "und"), "de")
          .when(array_contains(col("toks"), "el") ||
            array_contains(col("toks"), "los"), "es")
          .when(array_contains(col("toks"), "le") ||
            array_contains(col("toks"), "les"), "fr")
          .otherwise("unknown"))
      .select(col("doc_id"), col("pred_lang"),
        (col("pred_lang") === col("lang")).cast("int").as("matches_tag"))
      .orderBy(col("doc_id"))

  val q44Sql: String =
    s"""SELECT doc_id,
       |  CASE WHEN list_contains(toks, 'the') THEN 'en'
       |    WHEN list_contains(toks, 'der') OR list_contains(toks, 'und') THEN 'de'
       |    WHEN list_contains(toks, 'el') OR list_contains(toks, 'los') THEN 'es'
       |    WHEN list_contains(toks, 'le') OR list_contains(toks, 'les') THEN 'fr'
       |    ELSE 'unknown' END AS pred_lang,
       |  CASE WHEN (CASE WHEN list_contains(toks, 'the') THEN 'en'
       |    WHEN list_contains(toks, 'der') OR list_contains(toks, 'und') THEN 'de'
       |    WHEN list_contains(toks, 'el') OR list_contains(toks, 'los') THEN 'es'
       |    WHEN list_contains(toks, 'le') OR list_contains(toks, 'les') THEN 'fr'
       |    ELSE 'unknown' END) = lang THEN 1 ELSE 0 END AS matches_tag
       |FROM (SELECT doc_id, lang, $toksSql AS toks FROM documents) t
       |ORDER BY doc_id""".stripMargin

  // --- 45. document quality scoring --------------------------------------
  def q45(s: SparkSession, dir: String): DataFrame =
    docsWithToks(s, dir)
      .withColumn("n_toks", size(col("toks")))
      .withColumn("n_stop", size(filter(col("toks"), t => t.isin(Stopwords: _*))))
      .withColumn("alnum_len", Text.alnumLen(col("text")))
      .select(col("doc_id"), col("n_toks").cast("long").as("n_toks"),
        graft.functions.Num.ratio6(col("n_stop"), col("n_toks")).as("stop_ratio"),
        graft.functions.Num.ratio6(length(col("text")) - col("alnum_len"),
          length(col("text"))).as("non_alnum_ratio"),
        graft.functions.Num.ratio6(col("alnum_len"), col("n_toks")).as("avg_tok_len"))
      .orderBy(col("doc_id"))

  val q45Sql: String =
    s"""SELECT doc_id, n_toks,
       |  ${graft.functions.Num.ratio6Sql("n_stop", "n_toks")} AS stop_ratio,
       |  ${graft.functions.Num.ratio6Sql("LENGTH(text) - alnum_len", "LENGTH(text)")} AS non_alnum_ratio,
       |  ${graft.functions.Num.ratio6Sql("alnum_len", "n_toks")} AS avg_tok_len
       |FROM (
       |  SELECT doc_id, text, len($toksSql) AS n_toks,
       |    len(list_filter($toksSql, t -> t IN $StopwordsSqlList)) AS n_stop,
       |    ${Text.alnumLenSql("text")} AS alnum_len
       |  FROM documents) t
       |ORDER BY doc_id""".stripMargin

  // --- 46. token counting (whitespace + BPE-ish) -------------------------
  def q46(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit("\\S+"), lit(0))).cast("long").as("ws_tokens"),
        Text.bpeTokenCount(col("text")).as("bpe_tokens"),
        length(col("text")).cast("long").as("n_chars_actual"),
        ceil(length(col("text")) / lit(4.0)).cast("long").as("est_llm_tokens"))
      .orderBy(col("doc_id"))

  val q46Sql: String =
    s"""SELECT doc_id,
      |  len(regexp_extract_all(text, '\\S+')) AS ws_tokens,
      |  ${Text.bpeCountSql} AS bpe_tokens,
      |  LENGTH(text) AS n_chars_actual,
      |  CAST(ceil(LENGTH(text) / 4.0) AS BIGINT) AS est_llm_tokens
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // --- 47. document fingerprint ------------------------------------------
  /** Content fingerprint = md5 of the canonical token stream (whitespace-
    * normalized). Identical across engines; the dedup key for q48. */
  def q47(s: SparkSession, dir: String): DataFrame =
    docsWithToks(s, dir)
      .select(col("doc_id"),
        md5(array_join(col("toks"), " ")).as("fingerprint"),
        md5(array_join(array_sort(array_distinct(col("toks"))), " "))
          .as("bag_fingerprint"))
      .orderBy(col("doc_id"))

  val q47Sql: String =
    s"""SELECT doc_id,
       |  md5(array_to_string($toksSql, ' ')) AS fingerprint,
       |  md5(array_to_string(list_sort(list_distinct($toksSql)), ' ')) AS bag_fingerprint
       |FROM documents
       |ORDER BY doc_id""".stripMargin

  // --- 63. recall-targeted threshold tuning ------------------------------
  /** The reference tunes the decision threshold so screening keeps ≥ 95 %
    * of relevant studies (paper §2.4): sweep the ranked scores, pick the
    * highest threshold whose recall ≥ 0.95, report it with the precision
    * and screening workload it implies. */
  def q63(s: SparkSession, dir: String): DataFrame =
    // the tuned row is the T-th positive (see screeningStats): its score is
    // the threshold, its rank k_at_95 the screening workload, cum_pos = T
    screeningStats(s, dir)
      .select(col("threshold"),
        graft.functions.Num.ratio6(col("t"), col("k_at_95")).as("precision_at_t"),
        // ANSI mode throws on 0/0 — a zero-positive corpus has recall 0/0,
        // which IEEE engines report as NaN; mirror that instead of failing
        when(col("n_pos") > 0,
          graft.functions.Num.ratio6(col("t"), col("n_pos")))
          .otherwise(lit(Double.NaN)).as("recall_at_t"),
        graft.functions.Num.ratio6(col("k_at_95"), col("n_docs")).as("screen_fraction"))

  lazy val q63Sql: String =
    s"""WITH preds AS ($q38SqlNoOrder),
       |ranked AS (
       |  SELECT p.doc_id, p.score, CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y,
       |    ROW_NUMBER() OVER (ORDER BY p.score DESC, p.doc_id) AS rank,
       |    SUM(CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END)
       |      OVER (ORDER BY p.score DESC, p.doc_id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos
       |  FROM preds p JOIN documents d USING (doc_id)),
       |tot AS (SELECT COUNT(*) AS n_docs, CAST(SUM(y) AS BIGINT) AS n_pos FROM ranked)
       |SELECT score AS threshold,
       |  ${graft.functions.Num.ratio6Sql("cum_pos", "rank")} AS precision_at_t,
       |  ${graft.functions.Num.ratio6Sql("cum_pos", "n_pos")} AS recall_at_t,
       |  ${graft.functions.Num.ratio6Sql("rank", "n_docs")} AS screen_fraction
       |FROM ranked CROSS JOIN tot
       |WHERE cum_pos >= ceil(0.95 * n_pos)
       |ORDER BY rank
       |LIMIT 1""".stripMargin

  // --- 132. rank-based ROC-AUC (r7) ---------------------------------------
  /** Mann–Whitney AUC of the q38 score against the lang='en' truth — the
    * ranked-evaluation metric the reference paper's tables report
    * alongside P/R/F1/WSS@95 (r6 VERDICT "what's missing" #3). AUC =
    * P(s⁺ > s⁻) + ½·P(s⁺ = s⁻), computed WITHOUT ranking the corpus:
    * group by score (the per-score (positives p, negatives q) relation —
    * bounded by distinct score values, which q38's 6-decimal
    * quantization keeps far under corpus size), take a
    * [[graft.functions.PrefixSum]] running negative-count over the
    * AGGREGATED groups (the only unpartitioned window rides ≤4096 bin
    * rows), and fold U·2 = Σ_g p_g·(2·Q≤_g − q_g) in one exact
    * DECIMAL(38,0) aggregate. auc = U·2 / (2·n⁺·n⁻) through the
    * half-away micros lattice — hash-identical cross-engine. Contract:
    * both classes present (the division is 0/0 otherwise). */
  private[graft] def aucOf(scored: DataFrame): DataFrame = {
    import graft.functions.Num
    val g = scored.groupBy(col("score")).agg(
        sum(col("y")).cast("long").as("p"),
        (count(lit(1)) - sum(col("y"))).cast("long").as("q"))
      // exact order-preserving integer key: q38 scores sit ON the 1e-6
      // lattice, so round(score·10⁶) is a bijection onto int64
      .withColumn("bkey", round(col("score") * 1e6).cast("long"))
    graft.functions.PrefixSum.withRunningSum(g, "bkey", Nil, "q", "qle")
      .agg(
        sum(col("p")).as("n_pos"),
        sum(col("q")).as("n_neg"),
        sum(Num.big(col("p")) *
          (Num.big(col("qle")) * lit(2) - Num.big(col("q")))).as("u2"))
      .select(col("n_pos"), col("n_neg"),
        Num.ratio6Big(col("u2"),
          Num.big(col("n_pos")) * Num.big(col("n_neg")) * lit(2)).as("auc"))
  }

  /** The (doc_id, score, y) scored-vs-truth relation all four ranked-
    * evaluation readouts (q132/q133/q134/q139) start from. Family-
    * memoized via [[graft.Standing]]: each readout previously
    * re-ran the TF-IDF scoring join — four corpus passes where one
    * suffices (at 100 TB an evaluation report runs the scorer once per
    * snapshot, not once per metric). The memo materializes through
    * localCheckpoint, so values — and the oracle hashes — are
    * unchanged. */
  private[operators] def scoredEn(s: SparkSession, dir: String): DataFrame =
    graft.Standing.relation("scored38en", dir) {
      val truth = Tables.documents(s, dir)
        .select(col("doc_id").as("d2"), (col("lang") === "en").cast("int").as("y"))
      q38(s, dir).join(truth, col("doc_id") === col("d2"))
        .select(col("doc_id"), col("score"), col("y"))
    }

  def q132(s: SparkSession, dir: String): DataFrame =
    aucOf(scoredEn(s, dir).select(col("score"), col("y")))

  lazy val q132Sql: String =
    s"""WITH preds AS ($q38SqlNoOrder),
       |sc AS (SELECT p.score, CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
       |  FROM preds p JOIN documents d USING (doc_id)),
       |g AS (SELECT score, CAST(SUM(y) AS BIGINT) AS p,
       |    CAST(COUNT(*) - SUM(y) AS BIGINT) AS q
       |  FROM sc GROUP BY score),
       |w AS (SELECT p, q, SUM(q) OVER (ORDER BY score
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS qle FROM g)
       |SELECT CAST(SUM(p) AS BIGINT) AS n_pos, CAST(SUM(q) AS BIGINT) AS n_neg,
       |  ${graft.functions.Num.ratio6Sql(
            "SUM(CAST(p AS HUGEINT) * (2 * CAST(qle AS HUGEINT) - q))",
            "2 * CAST(SUM(p) AS HUGEINT) * CAST(SUM(q) AS HUGEINT)")} AS auc
       |FROM w""".stripMargin

  // --- 133. average precision (r7) ----------------------------------------
  /** Average precision of the q38 ranking against the lang='en' truth —
    * the prioritized-screening companion of [[q132]]: AP = (1/n⁺) ·
    * Σ_{positives} Precision@rank, under the engine's canonical ranked
    * order (score desc, doc_id asc — q40's tie convention, which makes
    * AP well-defined under ties). No corpus-wide sort or window: both
    * running totals (rank = prefix row count, cum_pos = prefix positive
    * count) come from ONE [[graft.functions.PrefixSum]] two-level scan
    * keyed on the negated score lattice with doc_id tiebreak, each
    * positive's Precision@rank rounds ONCE to integer micros
    * (half-away — exact in both engines), and the micro terms sum in
    * exact int64, so the final division is one IEEE op from identical
    * integers. */
  private[graft] def apOf(scored: DataFrame): DataFrame = {
    import graft.functions.Num
    val r = scored
      .select(col("doc_id"), col("y").cast("long").as("y"),
        round(negate(col("score")) * 1e6).cast("long").as("bkey"),
        lit(1L).as("one"))
    val rr = graft.functions.PrefixSum.withRunningSums(
      r, "bkey", Seq("doc_id"), Seq("one" -> "rnk", "y" -> "cum_pos"))
    rr.agg(
        sum(col("y")).as("n_pos"),
        sum(when(col("y") === 1,
          Num.idivHalfAway(col("cum_pos") * 1000000L, col("rnk")))
          .otherwise(0L)).as("s_micros"))
      .select(col("n_pos"),
        (col("s_micros").cast("double") / (col("n_pos") * 1000000.0)).as("ap"))
  }

  def q133(s: SparkSession, dir: String): DataFrame =
    apOf(scoredEn(s, dir))

  lazy val q133Sql: String =
    s"""WITH preds AS ($q38SqlNoOrder),
       |sc AS (SELECT p.doc_id, p.score, CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
       |  FROM preds p JOIN documents d USING (doc_id)),
       |rk AS (SELECT y,
       |    ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rnk,
       |    SUM(y) OVER (ORDER BY score DESC, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos
       |  FROM sc)
       |SELECT CAST(SUM(y) AS BIGINT) AS n_pos,
       |  CAST(CAST(SUM(CASE WHEN y = 1 THEN ${graft.functions.Num
              .idivHalfAwaySql("cum_pos * 1000000", "rnk")} ELSE 0 END) AS BIGINT)
       |    AS DOUBLE) / (CAST(SUM(y) AS BIGINT) * 1000000.0) AS ap
       |FROM rk""".stripMargin

  // --- 134. score calibration by decile (r7) ------------------------------
  /** Reliability table of the q38 score against the lang='en' truth —
    * the calibration readout that accompanies q132/q133 in a model
    * evaluation: decile buckets under the canonical ascending
    * (score, doc_id) order (NTILE(10) semantics — first n mod 10
    * buckets one heavier, q65's boundary formula), per bucket the doc
    * count, positive count, positive RATE (half-away micros) and mean
    * score (scores sit on the 1e-6 lattice, so the mean is an exact
    * int64 sum divided on the same lattice). A well-calibrated score
    * shows pos_rate rising with mean_score; flat tails flag a
    * threshold, not a ranking.
    *
    * No corpus sort/window: the nine boundary ranks resolve to exact
    * keys via [[graft.functions.OrderStats.keysAtRanks]] (globals fused
    * into the same first pass), each row's decile is a codegen'd
    * struct-compare CASE against the broadcast boundaries, and the
    * readout is one ≤10-row aggregate. */
  private[graft] def calibrationOf(scored: DataFrame): DataFrame = {
    import graft.functions.Num
    val s = scored.sparkSession
    import s.implicits._
    val NB = 10
    val ranked = scored.select(col("score").as("v"), col("doc_id").as("id"))
    val g = ranked.agg(count(lit(1)), min(col("v")), max(col("v")),
      min(col("id")), max(col("id"))).head()
    val n = g.getLong(0)
    val targets = (1 until NB)
      .map(i => (i, i * (n / NB) + math.min(i.toLong, n % NB)))
      .toDF("idx", "t")
    val preGlob = if (n == 0) None
      else Some((n, g.getDouble(1), g.getDouble(2), g.getLong(3), g.getLong(4)))
    val bCols = (1 until NB).map(i =>
      min(when(col("idx") === i, struct(col("v"), col("id")))).as(s"b$i"))
    val brow = graft.functions.OrderStats
      .keysAtRanks(ranked, targets, preGlob = preGlob)
      .agg(bCols.head, bCols.tail: _*)
    scored.crossJoin(broadcast(brow))
      .withColumn("key", struct(col("score").as("v"), col("doc_id").as("id")))
      .withColumn("decile", (lit(1) + (1 until NB)
        .map(i => when(col("key") > col(s"b$i"), 1).otherwise(0))
        .reduce(_ + _)).cast("long"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n"), sum(col("y")).cast("long").as("n_pos"),
        sum(round(col("score") * 1e6).cast("long")).as("sm"))
      .select(col("decile"), col("n"), col("n_pos"),
        Num.ratio6(col("n_pos"), col("n")).as("pos_rate"),
        Num.latticeAvg6(col("sm"), col("n")).as("mean_score"))
      .orderBy(col("decile"))
  }

  def q134(s: SparkSession, dir: String): DataFrame =
    calibrationOf(scoredEn(s, dir))

  lazy val q134Sql: String =
    s"""WITH preds AS ($q38SqlNoOrder),
       |sc AS (SELECT p.doc_id, p.score, CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
       |  FROM preds p JOIN documents d USING (doc_id)),
       |t AS (SELECT score, y,
       |    NTILE(10) OVER (ORDER BY score, doc_id) AS decile FROM sc)
       |SELECT decile, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS n_pos,
       |  ${graft.functions.Num.ratio6Sql("SUM(y)", "COUNT(*)")} AS pos_rate,
       |  ${graft.functions.Num.latticeAvg6Sql(
            "SUM(CAST(round(score * 1000000) AS BIGINT))", "COUNT(*)")} AS mean_score
       |FROM t GROUP BY decile
       |ORDER BY decile""".stripMargin

  // --- 71. suffix-stripping stemmer --------------------------------------
  /** Porter-lite stemming (the reference pipeline's normalization step):
    * one anchored alternation, first-alternative-wins — identical
    * left-to-right semantics in Java regex and RE2, so the oracle
    * replays it exactly. Tokens of length ≤ 4 pass through. */
  val StemSuffixes = "(ational|iveness|fulness|ousness|ization|ing|edly|ied|ies|es|ed|ly|s)$"

  def q71(s: SparkSession, dir: String): DataFrame =
    docsWithToks(s, dir)
      .select(explode(col("toks")).as("token"))
      .withColumn("stem",
        when(length(col("token")) > 4,
          regexp_replace(col("token"), StemSuffixes, ""))
          .otherwise(col("token")))
      .groupBy(col("stem"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("token")).as("n_surface_forms"))
      .orderBy(col("stem"))

  val q71Sql: String =
    s"""SELECT stem, COUNT(*) AS n, COUNT(DISTINCT token) AS n_surface_forms
       |FROM (
       |  SELECT token,
       |    CASE WHEN LENGTH(token) > 4
       |      THEN regexp_replace(token, '$StemSuffixes', '')
       |      ELSE token END AS stem
       |  FROM (SELECT unnest($toksSql) AS token FROM documents) t) u
       |GROUP BY stem
       |ORDER BY stem""".stripMargin

  // --- 76. multi-class evaluation metrics --------------------------------
  /** Per-class precision/recall/F1 + macro/micro averages (the reference's
    * "per-class" evaluation generalized past binary): truth = `lang`,
    * prediction = q44's marker-word language ID. Classes are the full
    * outer union of truth and predicted labels (so a never-true predicted
    * class like 'unknown' still reports its precision); macro averages
    * run over truth classes only with absent precision/F1 counted as 0
    * (scikit-learn's convention); micro = global accuracy. Two tiny
    * aggregates + a full-outer join on the class key — nothing bigger
    * than |classes| ever shuffles twice. */
  def q76(s: SparkSession, dir: String): DataFrame = {
    val j = q44(s, dir).join(
      Tables.documents(s, dir).select(col("doc_id").as("d2"), col("lang").as("y")),
      col("doc_id") === col("d2"))
      .select(col("y"), col("pred_lang").as("p"))
    val byTruth = j.groupBy(col("y").as("cls"))
      .agg(count(lit(1)).as("support"),
        sum(when(col("p") === col("y"), 1L).otherwise(0L)).as("tp_t"))
    val byPred = j.groupBy(col("p").as("cls"))
      .agg(count(lit(1)).as("n_pred"),
        sum(when(col("p") === col("y"), 1L).otherwise(0L)).as("tp_p"))
    val per = byTruth.join(byPred, Seq("cls"), "full_outer")
      .select(col("cls"),
        coalesce(col("support"), lit(0L)).as("support"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("tp_t"), col("tp_p"), lit(0L)).as("tp"))
      .withColumn("precision",
        when(col("n_pred") > 0, graft.functions.Num.ratio6(col("tp"), col("n_pred"))))
      .withColumn("recall",
        when(col("support") > 0, graft.functions.Num.ratio6(col("tp"), col("support"))))
      .withColumn("f1", when(col("n_pred") + col("support") > 0,
        graft.functions.Num.ratio6(lit(2) * col("tp"),
          col("n_pred") + col("support"))))
    // macro averages run over the per-class MICRO integers (the values
    // are on the 1e-6 lattice by construction) — an avg-of-rounded
    // double division is the same boundary class that bit q90
    def micros(c: org.apache.spark.sql.Column) =
      sum(round(c * 1000000L, 0).cast("long"))
    val totals = per.filter(col("support") > 0)
      .agg(sum(col("support")).as("n"), sum(col("tp")).as("correct"),
        micros(coalesce(col("precision"), lit(0.0))).as("pm"),
        micros(col("recall")).as("rm"),
        micros(coalesce(col("f1"), lit(0.0))).as("fm"),
        count(lit(1)).as("k"))
    val macroRow = totals.select(lit("macro_avg").as("cls"),
      col("n").as("support"), col("n").as("n_pred"), col("correct").as("tp"),
      graft.functions.Num.latticeAvg6(col("pm"), col("k")).as("precision"),
      graft.functions.Num.latticeAvg6(col("rm"), col("k")).as("recall"),
      graft.functions.Num.latticeAvg6(col("fm"), col("k")).as("f1"))
    val acc = graft.functions.Num.ratio6(col("correct"), col("n"))
    val microRow = totals.select(lit("micro_avg").as("cls"),
      col("n").as("support"), col("n").as("n_pred"), col("correct").as("tp"),
      acc.as("precision"), acc.as("recall"), acc.as("f1"))
    per.unionAll(macroRow).unionAll(microRow).orderBy(col("cls"))
  }

  private[operators] val predLangSql: String =
    """CASE WHEN list_contains(toks, 'the') THEN 'en'
      |    WHEN list_contains(toks, 'der') OR list_contains(toks, 'und') THEN 'de'
      |    WHEN list_contains(toks, 'el') OR list_contains(toks, 'los') THEN 'es'
      |    WHEN list_contains(toks, 'le') OR list_contains(toks, 'les') THEN 'fr'
      |    ELSE 'unknown' END""".stripMargin

  val q76Sql: String =
    s"""WITH j AS (
       |  SELECT lang AS y, $predLangSql AS p
       |  FROM (SELECT lang, $toksSql AS toks FROM documents) t),
       |bt AS (SELECT y AS cls, COUNT(*) AS support,
       |  CAST(SUM(CASE WHEN p = y THEN 1 ELSE 0 END) AS BIGINT) AS tp_t
       |  FROM j GROUP BY y),
       |bp AS (SELECT p AS cls, COUNT(*) AS n_pred,
       |  CAST(SUM(CASE WHEN p = y THEN 1 ELSE 0 END) AS BIGINT) AS tp_p
       |  FROM j GROUP BY p),
       |per AS (
       |  SELECT COALESCE(bt.cls, bp.cls) AS cls,
       |    CAST(COALESCE(support, 0) AS BIGINT) AS support,
       |    CAST(COALESCE(n_pred, 0) AS BIGINT) AS n_pred,
       |    CAST(COALESCE(tp_t, tp_p, 0) AS BIGINT) AS tp
       |  FROM bt FULL OUTER JOIN bp ON bt.cls = bp.cls),
       |perm AS (
       |  SELECT cls, support, n_pred, tp,
       |    CASE WHEN n_pred > 0 THEN ${graft.functions.Num.ratio6Sql("tp", "n_pred")} END AS precision,
       |    CASE WHEN support > 0 THEN ${graft.functions.Num.ratio6Sql("tp", "support")} END AS recall,
       |    CASE WHEN n_pred + support > 0
       |      THEN ${graft.functions.Num.ratio6Sql("2 * tp", "n_pred + support")} END AS f1
       |  FROM per),
       |tot AS (
       |  SELECT CAST(SUM(support) AS BIGINT) AS n, CAST(SUM(tp) AS BIGINT) AS correct,
       |    CAST(SUM(CAST(round(COALESCE(precision, 0) * 1000000, 0) AS BIGINT)) AS BIGINT) AS pm,
       |    CAST(SUM(CAST(round(recall * 1000000, 0) AS BIGINT)) AS BIGINT) AS rm,
       |    CAST(SUM(CAST(round(COALESCE(f1, 0) * 1000000, 0) AS BIGINT)) AS BIGINT) AS fm,
       |    COUNT(*) AS k
       |  FROM perm WHERE support > 0)
       |SELECT cls, support, n_pred, tp, precision, recall, f1 FROM perm
       |UNION ALL
       |SELECT 'macro_avg', n, n, correct,
       |  ${graft.functions.Num.latticeAvg6Sql("pm", "k")},
       |  ${graft.functions.Num.latticeAvg6Sql("rm", "k")},
       |  ${graft.functions.Num.latticeAvg6Sql("fm", "k")} FROM tot
       |UNION ALL
       |SELECT 'micro_avg', n, n, correct,
       |  ${graft.functions.Num.ratio6Sql("correct", "n")},
       |  ${graft.functions.Num.ratio6Sql("correct", "n")},
       |  ${graft.functions.Num.ratio6Sql("correct", "n")} FROM tot
       |ORDER BY cls""".stripMargin

  // --- 137. explicit confusion matrix (r8) -------------------------------
  /** The raw (truth, pred) count matrix behind q76's per-class metrics —
    * the paper's other evaluation table as a registered, oracle-checked
    * op (r7 VERDICT missing #3). One map-side-combined groupBy over the
    * joined predictions (output ≤ |langs|² cells), then a broadcast
    * row-total join for the exact row-share micros. Zero-count cells are
    * omitted (the sparse form is the 100 TB-safe shape — a dense pivot
    * over a catalog-sized class set is a presentation step, not a scan
    * shape). */
  def q137(s: SparkSession, dir: String): DataFrame = {
    val j = q44(s, dir).join(
      Tables.documents(s, dir).select(col("doc_id").as("d2"), col("lang").as("y")),
      col("doc_id") === col("d2"))
      .select(col("y").as("truth"), col("pred_lang").as("pred"))
    val cm = j.groupBy(col("truth"), col("pred")).agg(count(lit(1)).as("n"))
    val tot = cm.groupBy(col("truth")).agg(sum(col("n")).as("support"))
    cm.join(broadcast(tot), "truth")
      .select(col("truth"), col("pred"), col("n"),
        graft.functions.Num.ratio6(col("n"), col("support")).as("row_share"))
      .orderBy(col("truth"), col("pred"))
  }

  val q137Sql: String =
    s"""WITH j AS (
       |  SELECT lang AS truth, $predLangSql AS pred
       |  FROM (SELECT lang, $toksSql AS toks FROM documents) t),
       |cm AS (SELECT truth, pred, COUNT(*) AS n FROM j GROUP BY truth, pred),
       |tot AS (SELECT truth, CAST(SUM(n) AS BIGINT) AS support FROM cm GROUP BY truth)
       |SELECT truth, pred, n, ${graft.functions.Num.ratio6Sql("n", "support")} AS row_share
       |FROM cm JOIN tot USING (truth)
       |ORDER BY truth, pred""".stripMargin

  // --- 80. intra-document repetition ratio -------------------------------
  /** The classic LLM-corpus quality signal: fraction of duplicated word
    * 3-grams inside each document (boilerplate / template spam scores
    * high). Pure per-row expression pipeline — the n-gram array never
    * explodes into rows, so the op adds zero shuffles beyond the scan. */
  def q80(s: SparkSession, dir: String): DataFrame =
    docsWithToks(s, dir)
      .select(col("doc_id"), shingles(col("toks"), 3).as("g3"))
      .select(col("doc_id"),
        size(col("g3")).cast("long").as("n_ngrams"),
        size(array_distinct(col("g3"))).cast("long").as("n_distinct"))
      .withColumn("rep_ratio",
        when(col("n_ngrams") > 0,
          graft.functions.Num.ratio6(col("n_ngrams") - col("n_distinct"),
            col("n_ngrams")))
          .otherwise(0.0))
      .orderBy(col("doc_id"))

  val q80Sql: String =
    s"""SELECT doc_id, n_ngrams, n_distinct,
       |  CASE WHEN n_ngrams > 0
       |    THEN ${graft.functions.Num.ratio6Sql("n_ngrams - n_distinct", "n_ngrams")}
       |    ELSE 0.0 END AS rep_ratio
       |FROM (
       |  SELECT doc_id, len(g3) AS n_ngrams, len(list_distinct(g3)) AS n_distinct
       |  FROM (SELECT doc_id, ${shinglesSql("toks", 3)} AS g3
       |        FROM (SELECT doc_id, $toksSql AS toks FROM documents) _t) g) r
       |ORDER BY doc_id""".stripMargin

  // --- 90. bigram-LM quality score (r4) -----------------------------------
  /** CCNet-style language-model quality signal: score each document by
    * the average log-probability of its word bigrams under an add-one-
    * smoothed bigram model trained on the corpus itself (low scores ⇒
    * out-of-distribution / junk text; the quality gate a real pretraining
    * pipeline runs next to q45's heuristics). P(w₂|w₁) =
    * (c(w₁w₂) + 1) / (c(w₁·) + V), with c(w₁·) summed over the bigram
    * table so each conditional distribution normalizes exactly.
    *
    * Scale shape: the model is two aggregations of the exploded bigram
    * relation — both with map-side partial combine, so hot bigrams
    * ("of the") arrive pre-aggregated, never as a hot-key row stream —
    * and the model table is vocab-sized ≪ corpus. Scoring re-joins
    * occurrences to the model on the bigram key: 1:1 per occurrence
    * (no fan-out), AQE free to broadcast the model when it fits. The
    * per-bigram log-prob is rounded to 6 before a decimal-exact sum, so
    * the per-doc average is aggregation-order-independent and replays
    * bit-for-bit in DuckDB. */
  /** q90's pre-average per-doc LM aggregate (doc_id, n, s: bigram count
    * + exact int64 sum of per-bigram log-prob micros) — ONE builder
    * behind the q90 readout and q180's perplexity bucketing, so the LM
    * scoring rule cannot drift between them. */
  private def lmDocAgg(s: SparkSession, dir: String): DataFrame = {
    val d = docsWithToks(s, dir)
    val bg = d.select(col("doc_id"), explode(shingles(col("toks"), 2)).as("bg"))
    val bgCounts = bg.groupBy(col("bg")).agg(count(lit(1)).as("c_bg"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
    val w1Counts = bgCounts.groupBy(col("w1")).agg(sum(col("c_bg")).as("c_w1"))
    val model = bgCounts.join(w1Counts, "w1")
    val vocab = d.select(explode(col("toks")).as("tok"))
      .agg(count_distinct(col("tok")).as("v"))
    // per-term log-probs quantize to integer MICROS immediately, and the
    // per-doc average is a half-away-from-zero INTEGER division — a
    // 6-decimal sum divided as a double can land exactly on a .5e-6
    // rounding boundary (observed at sf0.1: sum −67.766590 / 20 =
    // −3.3883295), where Spark's exact-decimal round and DuckDB's
    // scaled-double round disagree; integer arithmetic has no boundary
    bg.join(model, "bg")
      .crossJoin(broadcast(vocab))
      .withColumn("lpm",
        round(log((col("c_bg") + 1) / (col("c_w1") + col("v")).cast("double")) *
          1000000L, 0).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"), sum(col("lpm")).as("s"))
      // cache(): THIN (three int64s per doc) and referenced 4-5× inside
      // one q180/q186 plan (the scored relation feeds the lang dim, the
      // keyed join, and PrefixSum's range + binned scans) plus across
      // the family's three consumers (q90/q180/q186) — without it the
      // whole bigram-LM build (explode + two corpus aggregations + the
      // model join) re-executes per reference: 5 corpus LM passes where
      // one suffices, the exact multiple a 100 TB run can't pay. Family
      // cache group discipline (SparkEntry.opGroups) owns the lifetime.
      .cache()
  }

  /** The exact half-away per-doc average in integer micros — the scalar
    * [[q90]] surfaces as a double and [[q180]] ranks on. */
  private val lmAvgMicros =
    expr("CASE WHEN s >= 0 THEN (2 * s + n) div (2 * n) " +
      "ELSE -((-2 * s + n) div (2 * n)) END")

  def q90(s: SparkSession, dir: String): DataFrame =
    lmDocAgg(s, dir)
      .select(col("doc_id"), col("n").as("n_bigrams"),
        (lmAvgMicros / 1000000.0).as("avg_logp"))
      .orderBy(col("doc_id"))

  /** The q90 scoring chain's CTE list ending in `agg(doc_id, n, s)` —
    * shared by [[q90Sql]] and [[q180Sql]]. */
  private val lmCtesSql: String =
    s"""WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |bg AS (SELECT doc_id, unnest(${shinglesSql("toks", 2)}) AS bg FROM d),
       |bgc AS (SELECT bg, COUNT(*) AS c_bg, split_part(bg, ' ', 1) AS w1
       |  FROM bg GROUP BY bg),
       |w1c AS (SELECT w1, CAST(SUM(c_bg) AS BIGINT) AS c_w1 FROM bgc GROUP BY w1),
       |v AS (SELECT COUNT(DISTINCT tok) AS v
       |  FROM (SELECT unnest(toks) AS tok FROM d) _t),
       |scored AS (
       |  SELECT b.doc_id,
       |    CAST(round(ln((m.c_bg + 1) / CAST(w.c_w1 + v.v AS DOUBLE)) * 1000000, 0)
       |      AS BIGINT) AS lpm
       |  FROM bg b JOIN bgc m USING (bg) JOIN w1c w ON m.w1 = w.w1 CROSS JOIN v),
       |agg AS (SELECT doc_id, COUNT(*) AS n, CAST(SUM(lpm) AS BIGINT) AS s
       |  FROM scored GROUP BY doc_id)""".stripMargin

  private val lmAvgMicrosSql: String =
    """(CASE WHEN s >= 0 THEN (2 * s + n) // (2 * n)
      |    ELSE -((-2 * s + n) // (2 * n)) END)""".stripMargin

  val q90Sql: String =
    s"""$lmCtesSql
       |SELECT doc_id, n AS n_bigrams,
       |  $lmAvgMicrosSql / 1000000.0 AS avg_logp
       |FROM agg
       |ORDER BY doc_id""".stripMargin

  // --- 180. perplexity-bucket corpus partition (r13) ------------------------
  /** The CCNet curation move (Wenzek et al. 2020, arXiv:1911.00359):
    * partition each LANGUAGE's documents into head / middle / tail
    * TERTILES by language-model score (head = most in-distribution
    * text), so downstream mixing can oversample the head without
    * dropping the tail outright. Scores are [[q90]]'s exact per-doc
    * average log-prob micros (ONE shared aggregate — the rule cannot
    * drift); the bucket rule is the exact rank form (3·rank ≤ n ⇒ head,
    * ≤ 2n ⇒ middle, else tail — no NTILE, whose tie semantics differ
    * across engines). Membership = q90's (docs with ≥1 bigram).
    *
    * Scale shape: per-language ranking WITHOUT per-language sort tasks —
    * the language index folds into the PrefixSum ordering key
    * (lang_idx·2⁴⁰ − sc_micros: language-major, best-score-first
    * within), so ONE two-level binned scan ranks every language at
    * once; a giant language (English = half a real corpus) never lands
    * in one sort task, which is exactly how a partitionBy(lang) window
    * would execute. The language dim (index + rank offset) cumulates
    * over the ≤\|langs\| aggregate and broadcasts back. FULL oracle:
    * ROW_NUMBER per language over the shared LM chain. */
  /** The bucketed relation behind [[q180]] (unordered) and [[q186]]'s
    * sampling join — ONE builder, so the tertile rule cannot drift.
    * MEMOIZED per (family run, dir) since r17: the bucket assignment is
    * a pure function of the corpus snapshot (LM scores + the exact rank
    * law), and the un-memoized plan re-ran the lang-dim aggregate, its
    * cumulative window, the keyed join and PrefixSum's binned scans on
    * EVERY q180/q186 call — 28/31 scheduler jobs per readout (r17
    * DevTime), almost all of it the ~0.1 s/job floor. The memoized
    * relation is doc-sized (4 thin columns); the epoch-order/
    * length-batches treatment (r15) applied one family over. */
  private def pplBuckets(s: SparkSession, dir: String): DataFrame =
    graft.Standing.relation("ppl_buckets", dir)(
      pplBucketsPlan(s, dir))

  /** The unmemoized bucketing plan (ScalePlanSpec pins the window
    * discipline here — the memo readout is a LogicalRDD leaf). */
  private[graft] def pplBucketsPlan(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sc = lmDocAgg(s, dir)
      .select(col("doc_id"), lmAvgMicros.as("sc_micros"))
      .join(Tables.documents(s, dir).select(col("doc_id"), col("lang")),
        "doc_id")
    val cum = Window.orderBy(col("lang"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dim = sc.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
      .withColumn("lang_idx",
        row_number().over(Window.orderBy(col("lang"))).cast("long"))
      .withColumn("off", sum(col("n_lang")).over(cum) - col("n_lang"))
    val keyed = sc.join(broadcast(dim), "lang")
      .withColumn("okey", col("lang_idx") * lit(1L << 40) - col("sc_micros"))
    graft.functions.PrefixSum
      .withRunningSum(keyed.withColumn("one", lit(1L)), "okey",
        Seq("doc_id"), "one", "grank")
      .withColumn("r", col("grank") - col("off"))
      .withColumn("bucket",
        when(col("r") * 3 <= col("n_lang"), "head")
          .when(col("r") * 3 <= col("n_lang") * 2, "middle")
          .otherwise("tail"))
      .select(col("doc_id"), col("lang"), col("sc_micros"), col("bucket"))
  }

  def q180(s: SparkSession, dir: String): DataFrame =
    pplBuckets(s, dir).orderBy(col("doc_id"))

  /** The q180 chain as spliceable CTEs ending in
    * `ppb(doc_id, lang, sc_micros, bucket)` — shared by [[q180Sql]] and
    * [[q186Sql]]. */
  private val pplBucketsCtesSql: String =
    s"""$lmCtesSql,
       |lms AS (
       |  SELECT a.doc_id, d.lang, $lmAvgMicrosSql AS sc_micros
       |  FROM agg a JOIN documents d USING (doc_id)),
       |lmr AS (
       |  SELECT doc_id, lang, sc_micros,
       |    ROW_NUMBER() OVER (PARTITION BY lang
       |      ORDER BY sc_micros DESC, doc_id) AS r,
       |    COUNT(*) OVER (PARTITION BY lang) AS n_lang
       |  FROM lms),
       |ppb AS (
       |  SELECT doc_id, lang, sc_micros,
       |    CASE WHEN r * 3 <= n_lang THEN 'head'
       |         WHEN r * 3 <= n_lang * 2 THEN 'middle'
       |         ELSE 'tail' END AS bucket
       |  FROM lmr)""".stripMargin

  val q180Sql: String =
    s"""$pplBucketsCtesSql
       |SELECT doc_id, lang, sc_micros, bucket
       |FROM ppb
       |ORDER BY doc_id""".stripMargin

  // --- 186. perplexity-bucket oversampling (r13) -----------------------------
  /** [[q180]]'s ACTION — the CCNet sampling step: keep the head in full,
    * downsample the middle and tail at explicit policy rates
    * ([[PplMixRates]] micros — the q110 broadcast-policy pattern), with
    * inverse-propensity weights so downstream statistics stay unbiased
    * (the q82 rule). The draw is the engine's portable md5 rule on
    * doc_id under a fresh prefix — deterministic, engine-replayable,
    * independent of the q82/q123 draws (a doc's fate here shares nothing
    * with its mixture fate there).
    *
    * Scale shape: [[pplBuckets]]'s plan + a ≤3-row broadcast policy join
    * + a map-side filter — the sample never shuffles. FULL oracle: the
    * shared bucket CTEs + the same VALUES policy + the same predicate. */
  val PplMixRates: Seq[(String, Long)] = Seq(
    "head" -> 1000000L, "middle" -> 500000L, "tail" -> 250000L)

  def q186(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rates = PplMixRates.toDF("bucket", "rate_micros")
    pplBuckets(s, dir)
      .join(broadcast(rates), "bucket")
      .withColumn("u",
        HexKey("pplmix:", 15, col("doc_id")) % 1000000L)
      .filter(col("u") < col("rate_micros"))
      .select(col("doc_id"), col("lang"), col("sc_micros"), col("bucket"),
        graft.functions.Num.ratio6(lit(1000000L), col("rate_micros"))
          .as("weight"))
      .orderBy(col("doc_id"))
  }

  val q186Sql: String = {
    val vals = PplMixRates
      .map { case (b, r) => s"('$b', CAST($r AS BIGINT))" }.mkString(", ")
    s"""$pplBucketsCtesSql,
       |pmr(bucket, rate_micros) AS (SELECT * FROM (VALUES $vals))
       |SELECT b.doc_id, b.lang, b.sc_micros, b.bucket,
       |  ${graft.functions.Num.ratio6Sql(
            "CAST(1000000 AS BIGINT)", "r.rate_micros")} AS weight
       |FROM ppb b JOIN pmr r USING (bucket)
       |WHERE CAST(('0x' || substr(md5('pplmix:' || CAST(b.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
       |  % 1000000 < r.rate_micros
       |ORDER BY doc_id""".stripMargin
  }

  // --- 92. vocabulary coverage (Zipf head) (r4) ---------------------------
  /** Tokenizer-planning readout: the minimal number of distinct token
    * TYPES (taken in descending frequency order) covering 50/90/95/99 %
    * of corpus token mass — the Zipf-head statistic that sizes a
    * tokenizer vocabulary / stop-list.
    *
    * Scale shape: token counts aggregate map-side; the trick is that the
    * cumulative-frequency walk runs over the COUNT-OF-COUNTS relation
    * (one row per distinct frequency, ~O(√mass) rows), not the vocab —
    * equal-frequency types are interchangeable, so the threshold
    * resolves arithmetically inside a frequency class:
    * n_types = types above the class + ⌈remaining mass / class freq⌉.
    * The only unpartitioned window cumulates that aggregated relation
    * (the ScalePlanSpec rule), and every quantity is integer/IEEE-exact
    * cross-engine. */
  def q92(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docsWithToks(s, dir).select(explode(col("toks")).as("tok"))
    val cc = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("cnt")).agg(count(lit(1)).as("types"))
      .withColumn("mass", col("cnt") * col("types"))
    val w = Window.orderBy(col("cnt").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = cc.withColumn("cum_mass", sum(col("mass")).over(w))
      .withColumn("cum_types", sum(col("types")).over(w))
      .crossJoin(broadcast(toks.agg(count(lit(1)).as("total"))))
    val thresholds = Seq(0.5, 0.9, 0.95, 0.99)
    val th = s.range(1).select(explode(
      array(thresholds.map(lit): _*)).as("coverage"))
    // per threshold: the highest-frequency class whose cumulative mass
    // reaches need = coverage·total, then the in-class arithmetic pick
    th.join(broadcast(cum), col("cum_mass") >= col("coverage") * col("total"))
      .groupBy(col("coverage"))
      .agg(min(struct((lit(Long.MaxValue) - col("cnt")).as("inv"),
        col("cnt").as("cnt"), col("types").as("types"),
        col("cum_mass").as("cum_mass"), col("cum_types").as("cum_types"),
        col("total").as("total"))).as("c"))
      .select(col("coverage"),
        (col("c.cum_types") - col("c.types") +
          ceil((col("coverage") * col("c.total") -
            (col("c.cum_mass") - col("c.cnt") * col("c.types")).cast("double")) /
            col("c.cnt")).cast("long")).as("n_types"))
      .orderBy(col("coverage"))
  }

  val q92Sql: String =
    s"""WITH toks AS (SELECT unnest($toksSql) AS tok FROM documents),
       |tc AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
       |cc AS (SELECT cnt, COUNT(*) AS types, cnt * COUNT(*) AS mass
       |  FROM tc GROUP BY cnt),
       |cum AS (
       |  SELECT cnt, types,
       |    CAST(SUM(mass) OVER w AS BIGINT) AS cum_mass,
       |    CAST(SUM(types) OVER w AS BIGINT) AS cum_types
       |  FROM cc WINDOW w AS (ORDER BY cnt DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |tot AS (SELECT COUNT(*) AS total FROM toks),
       |th(coverage) AS (VALUES (CAST(0.5 AS DOUBLE)), (CAST(0.9 AS DOUBLE)),
       |  (CAST(0.95 AS DOUBLE)), (CAST(0.99 AS DOUBLE))),
       |hit AS (
       |  SELECT coverage, cnt, types, cum_mass, cum_types, total,
       |    ROW_NUMBER() OVER (PARTITION BY coverage ORDER BY cnt DESC) AS rn
       |  FROM th CROSS JOIN cum CROSS JOIN tot
       |  WHERE cum_mass >= coverage * total)
       |SELECT coverage,
       |  cum_types - types +
       |    CAST(ceil((coverage * total - CAST(cum_mass - cnt * types AS DOUBLE))
       |      / cnt) AS BIGINT) AS n_types
       |FROM hit WHERE rn = 1
       |ORDER BY coverage""".stripMargin

  // --- 101. heavy hitters: MG sketch candidates → exact verify (r4) -------
  /** Frequent tokens (share ≥ 1/[[HeavyDen]]) WITHOUT ever shuffling the
    * long tail: pass 1 runs the mergeable Misra–Gries aggregate
    * ([[graft.expressions.FreqItemsAgg]], k = [[HeavyK]] counters per
    * buffer, map-side partial merge) down to ONE driver-sized summary —
    * its guarantee (undercount ≤ n/(k+1), so every item with share
    * > 1/(k+1) survives) makes the summary a provable candidate
    * SUPERSET of the heavy set; pass 2 broadcasts the ≤ k candidates
    * back and exact-counts only matching rows (map-side filter, ≤ k
    * groups). Output is therefore EXACT and partitioning-independent
    * even though sketch estimates aren't — which is what lets DuckDB
    * replay it as a plain HAVING aggregate. Contrast with q33's full
    * groupBy: at 100 TB the vocabulary's tail (trillions of rare keys)
    * is the shuffle; here the tail dies map-side in pass 1 and never
    * moves. */
  val HeavyK = 64
  val HeavyDen = 40 // heavy ⇔ share ≥ 1/40; guarantee needs 1/40 > 1/(k+1) ✓

  def q101(s: SparkSession, dir: String): DataFrame = {
    val tok = docsWithToks(s, dir).select(explode(col("toks")).as("token"))
    val sk = tok.agg(
      graft.expressions.FreqItemsAgg.freqItems(col("token"), HeavyK).as("cands"),
      count(lit(1)).as("n_total"))
    val cand = sk.select(explode(map_keys(col("cands"))).as("token"), col("n_total"))
    tok.join(broadcast(cand), "token")
      .groupBy(col("token"), col("n_total"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * HeavyDen >= col("n_total"))
      .select(col("token"), col("cnt"),
        graft.functions.Num.ratio6(col("cnt"), col("n_total")).as("share"))
      .orderBy(col("token"))
  }

  lazy val q101Sql: String =
    s"""WITH tok AS (SELECT unnest($toksSql) AS token FROM documents),
       |n AS (SELECT COUNT(*) AS n_total FROM tok)
       |SELECT token, COUNT(*) AS cnt,
       |  ${graft.functions.Num.ratio6Sql("COUNT(*)", "n_total")} AS share
       |FROM tok CROSS JOIN n
       |GROUP BY token, n_total
       |HAVING COUNT(*) * $HeavyDen >= n_total
       |ORDER BY token""".stripMargin

  // --- 102. per-group heavy hitters: MG sketch under groupBy (r4) --------
  /** [[q101]] generalized to an arbitrary group key: frequent tokens PER
    * LANGUAGE (share ≥ 1/[[HeavyDen]] within the language). The MG
    * guarantee is per-group for free — each group gets its own
    * aggregation buffer, so every group's summary independently carries
    * undercount ≤ n_g/(k+1) and the candidate-superset property holds
    * within each group. Pass 2 broadcasts ≤ |groups|·k (group, token)
    * candidates for the exact recount. At 100 TB this is the
    * "per-language stop-word table" build: the grouped sketch shuffles
    * |groups|·k counters instead of the |groups|×vocab cross tail. */
  def q102(s: SparkSession, dir: String): DataFrame = {
    val tok = docsWithToks(s, dir)
      .select(col("lang"), explode(col("toks")).as("token"))
    val sk = tok.groupBy(col("lang")).agg(
      graft.expressions.FreqItemsAgg.freqItems(col("token"), HeavyK).as("cands"),
      count(lit(1)).as("n_lang"))
    val cand = sk.select(col("lang"),
      explode(map_keys(col("cands"))).as("token"), col("n_lang"))
    tok.join(broadcast(cand), Seq("lang", "token"))
      .groupBy(col("lang"), col("token"), col("n_lang"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * HeavyDen >= col("n_lang"))
      .select(col("lang"), col("token"), col("cnt"),
        graft.functions.Num.ratio6(col("cnt"), col("n_lang")).as("share"))
      .orderBy(col("lang"), col("token"))
  }

  lazy val q102Sql: String =
    s"""WITH tok AS (SELECT lang, unnest($toksSql) AS token FROM documents),
       |n AS (SELECT lang, COUNT(*) AS n_lang FROM tok GROUP BY lang)
       |SELECT t.lang, token, COUNT(*) AS cnt,
       |  ${graft.functions.Num.ratio6Sql("COUNT(*)", "n_lang")} AS share
       |FROM tok t JOIN n USING (lang)
       |GROUP BY t.lang, token, n_lang
       |HAVING COUNT(*) * $HeavyDen >= n_lang
       |ORDER BY lang, token""".stripMargin

  // --- 103. BM25 retrieval (r4) -------------------------------------------
  /** Okapi BM25 top-k retrieval for a fixed query — the ranked-search
    * primitive of the reference's literature-screening domain (rank the
    * corpus against a reviewer's query, screen from the top). k1 = 1.2,
    * b = 0.75 (the classic defaults).
    *
    * Scale shape: the `isin(query)` filter lands directly on the
    * exploded token stream, so only query-term occurrences — a
    * |query|-bounded fraction — ever shuffle; corpus-wide inputs reduce
    * to a 1-row (N, Σlen) aggregate and a |query|-row df table, both
    * broadcast. Top-k is `orderBy.limit` = TakeOrderedAndProject (per-
    * partition heaps + driver merge of k·parts rows, never a global
    * sort). Cross-engine determinism is the q90 recipe: one shared ln,
    * identical association/literals in both engines, per-term micro-
    * quantization before an exact integer sum, ties broken by doc_id. */
  val Bm25TopK = 20
  val Bm25Query: Seq[String] = Seq("vector", "stream", "filter", "window")

  /** Per-doc query-term frequencies `(doc_id, dl, tok, tf)` — the
    * shared probe stage of q103/q130/StreamOps.bm25, computed ENTIRELY
    * row-locally (r6 VERDICT #2): for each of the |query| standing
    * terms, tf is one membership scan of the doc's token array
    * (`size(filter(toks, = term))`), and only the (term, tf>0) pairs
    * are exploded — ≤ |query| rows per doc. The previous form exploded
    * EVERY token of every doc into rows and shuffled a (doc, term)
    * groupBy to get the same counts; here the tf aggregation needs no
    * exchange at all — the only shuffled relation left in BM25 is the
    * ≤ |query|-row df table. O(|toks|·|query|) per row, all inside one
    * whole-stage-codegen'd corpus pass. */
  private def queryTermFreqs(d: DataFrame, query: Seq[String]): DataFrame = {
    val q = array(query.map(lit): _*)
    val perTerm = transform(q, term => struct(term.as("tok"),
      size(filter(col("toks"), x => x === term)).cast("long").as("tf")))
    d.select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(filter(perTerm, s => s.getField("tf") > 0)).as("e"))
      .select(col("doc_id"), col("dl"),
        col("e.tok").as("tok"), col("e.tf").as("tf"))
  }

  def q103(s: SparkSession, dir: String): DataFrame = {
    val d = docsWithToks(s, dir).select(col("doc_id"), col("toks"))
    // corpus totals are a per-corpus constant — family-memoized so the
    // repeated-probe pattern (and the bench's best-of-N) pays the
    // corpus-stats pass once per corpus, not once per query
    val stats = graft.Standing.relation("bm25stats", dir)(
      d.agg(count(lit(1)).as("n_docs"),
        sum(size(col("toks")).cast("long")).as("sum_len")))
    // ≤ |query| rows per doc; cached so the df aggregate and the scoring
    // join read ONE corpus scan between them (family cache group owns it)
    val tf = queryTermFreqs(d, Bm25Query).cache()
    val dft = tf.groupBy(col("tok")).agg(count(lit(1)).as("dft"))
    tf.join(broadcast(dft), "tok")
      .crossJoin(broadcast(stats))
      .withColumn("idf", log(lit(1.0) +
        (col("n_docs") - col("dft") + lit(0.5)) / (col("dft") + lit(0.5))))
      .withColumn("norm", lit(0.25) +
        lit(0.75) * (col("dl") * col("n_docs")) / col("sum_len"))
      .withColumn("sm",
        round((col("idf") * ((col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) * col("norm")))) * lit(1000000L), 0).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("sm")).as("s"))
      .select(col("doc_id"), col("n_terms"), (col("s") / 1000000.0).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(Bm25TopK)
  }

  lazy val q103Sql: String = {
    val terms = Bm25Query.map(t => s"'$t'").mkString(", ")
    s"""WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |stats AS (SELECT COUNT(*) AS n_docs, CAST(SUM(len(toks)) AS BIGINT) AS sum_len FROM d),
       |occ AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, unnest(toks) AS tok
       |  FROM d) ,
       |tf AS (SELECT doc_id, dl, tok, COUNT(*) AS tf FROM occ
       |  WHERE tok IN ($terms) GROUP BY doc_id, dl, tok),
       |dft AS (SELECT tok, COUNT(*) AS dft FROM tf GROUP BY tok),
       |scored AS (
       |  SELECT t.doc_id,
       |    CAST(round((ln(1.0 + (n_docs - dft + 0.5) / (dft + 0.5)) *
       |      ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl * n_docs) / sum_len))))
       |      * 1000000, 0) AS BIGINT) AS sm
       |  FROM tf t JOIN dft USING (tok) CROSS JOIN stats)
       |SELECT doc_id, COUNT(*) AS n_terms, CAST(SUM(sm) AS BIGINT) / 1000000.0 AS bm25
       |FROM scored GROUP BY doc_id
       |ORDER BY bm25 DESC, doc_id
       |LIMIT $Bm25TopK""".stripMargin
  }

  // --- 130. incremental BM25 vs a persisted term-stats artifact (r6) -------
  /** The arrival model for RETRIEVAL: q103 scores a query against the
    * corpus by rescanning it; q130 persists the corpus-side statistics
    * ONCE — a vocabulary-sized per-term document-frequency table
    * (bucketed on `tok`, the q108 artifact pattern) plus a totals row
    * (n_docs, sum_len ⇒ avgdl) — and then scores each ARRIVING batch
    * against the standing query with those frozen stats: route new docs
    * to standing queries without touching the corpus again.
    *
    * Stats are PARTIAL-ROW additive (docs are batch-disjoint, so df and
    * the totals just sum): [[q130Append]] folds a batch in by appending
    * its per-term partials and one totals row; probes aggregate the ≤
    * (batches) partials per probed term — an aggregating compaction is
    * the obvious [[Bucketed.Index.compact]] extension
    * if partial counts ever matter. A term unseen in the snapshot
    * scores with df = 0 (the standard BM25 idf still well-defined).
    *
    * Scale shape: write = one distinct-token explode + groupBy over the
    * snapshot (paid once); probe = arrival-sized explode filtered to
    * the query terms, the df side pruned to ≤|query| rows (bucket/
    * filter pushdown on the artifact scan — spec-pinned, the corpus is
    * NEVER rescanned) and broadcast; same integer-micros scoring
    * lattice as q103. Top-K is TakeOrderedAndProject. */
  private[graft] def q130Write(s: SparkSession, snap: DataFrame): Unit = {
    graft.Standing.invalidate(s, "bm25index", "g130")
    G130Df.write(s, termDf(snap))
    Bucketed.fresh(s, graft.Standing.dir(s, "bm25index"), "g130_totals",
      totals(snap), publish = false)(identity)
  }

  /** Fold an accepted batch into the stats artifact (partial rows). */
  private[graft] def q130Append(s: SparkSession, batch: DataFrame): Unit = {
    graft.Standing.invalidate(s, "bm25index", "g130")
    G130Df.append(s, termDf(batch))
    totals(batch).write.mode("append").saveAsTable("g130_totals")
  }

  /** Per-term document frequencies of `docs` (partial rows). */
  private def termDf(docs: DataFrame): DataFrame =
    docs.select(explode(array_distinct(col("toks"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))

  /** One totals row (n_docs, sum_len) of `docs`. */
  private def totals(docs: DataFrame): DataFrame =
    docs.agg(count(lit(1)).as("n_docs"),
        sum(size(col("toks")).cast("long")).as("sum_len"))
      .coalesce(1)

  /** AGGREGATING compaction of the df artifact: the per-term partial
    * rows appended per batch sum back to ONE row per term while the
    * rewrite lands one file per bucket — probes aggregate over
    * partials, so results are bit-identical pre/post (spec-pinned);
    * generation-cataloged like every other compaction. The totals
    * table's one row per appended batch sums back to ONE row in the same
    * step (its reader is already a 2-column sum, so probes are again
    * bit-identical): an always-on append stream stays bounded on both
    * sides. The sum is collected before the rewrite, so the write never
    * reads the table it replaces. */
  private[graft] def q130Compact(s: SparkSession): Unit = {
    G130Df.compact(s)
    val tot = s.table("g130_totals")
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_len")).as("sum_len"))
    Bucketed.fresh(s, graft.Standing.dir(s, "bm25index"), "g130_totals",
      s.createDataFrame(java.util.Arrays.asList(tot.collect(): _*), tot.schema),
      publish = false)(identity)
  }

  /** The per-term df index; compaction sums the partial rows per term. */
  val G130Df = Bucketed.Index("bm25index", "g130_df", Seq("tok"),
    merge = _.groupBy(col("tok")).agg(sum(col("df")).as("df")))

  /** Score an arriving batch `(doc_id, toks)` for `query` against the
    * persisted stats — batch-sized work, corpus untouched. */
  private[graft] def q130Probe(s: SparkSession, arrivals: DataFrame,
      query: Seq[String]): DataFrame = {
    val tot = s.table("g130_totals")
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_len")).as("sum_len"))
    val dft = s.table("g130_df").filter(col("tok").isin(query: _*))
      .groupBy(col("tok")).agg(sum(col("df")).as("dft"))
    val tf = queryTermFreqs(arrivals.select(col("doc_id"), col("toks")), query)
    tf.join(broadcast(dft), Seq("tok"), "left").na.fill(0L, Seq("dft"))
      .crossJoin(broadcast(tot))
      .withColumn("idf", log(lit(1.0) +
        (col("n_docs") - col("dft") + lit(0.5)) / (col("dft") + lit(0.5))))
      .withColumn("norm", lit(0.25) +
        lit(0.75) * (col("dl") * col("n_docs")) / col("sum_len"))
      .withColumn("sm",
        round((col("idf") * ((col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) * col("norm")))) * lit(1000000L), 0).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("sm")).as("s"))
      .select(col("doc_id"), col("n_terms"), (col("s") / 1000000.0).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(Bm25TopK)
  }

  def q130(s: SparkSession, dir: String): DataFrame = {
    val mod = DedupOps.IncrSplitMod
    val d = docsWithToks(s, dir).select(col("doc_id"), col("toks"))
    // standing-snapshot reuse (r8) — see DedupOps.q108: a direct write
    // or append invalidates the slot, compaction keeps it (probe results
    // are invariant under the aggregating compaction — spec-pinned)
    graft.Standing.artifact(s, "bm25index", "g130", dir,
        graft.Standing.catalogHas(s, "g130_df", "g130_totals"))(
      _ => q130Write(s, d.filter(col("doc_id") % mod =!= 0)))
    q130Probe(s, d.filter(col("doc_id") % mod === 0), Bm25Query)
  }

  lazy val q130Sql: String = {
    val terms = Bm25Query.map(t => s"'$t'").mkString(", ")
    val mod = DedupOps.IncrSplitMod
    s"""WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |snap AS (SELECT * FROM d WHERE doc_id % $mod <> 0),
       |arr AS (SELECT * FROM d WHERE doc_id % $mod = 0),
       |stats AS (SELECT COUNT(*) AS n_docs, CAST(SUM(len(toks)) AS BIGINT) AS sum_len FROM snap),
       |dft AS (SELECT tok, COUNT(*) AS dft
       |  FROM (SELECT doc_id, unnest(list_distinct(toks)) AS tok FROM snap)
       |  WHERE tok IN ($terms) GROUP BY tok),
       |tf AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, tok, COUNT(*) AS tf
       |  FROM (SELECT doc_id, toks, unnest(toks) AS tok FROM arr)
       |  WHERE tok IN ($terms) GROUP BY doc_id, dl, tok),
       |scored AS (
       |  SELECT t.doc_id,
       |    CAST(round((ln(1.0 + (n_docs - COALESCE(dft, 0) + 0.5) / (COALESCE(dft, 0) + 0.5)) *
       |      ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl * n_docs) / sum_len))))
       |      * 1000000, 0) AS BIGINT) AS sm
       |  FROM tf t LEFT JOIN dft USING (tok) CROSS JOIN stats)
       |SELECT doc_id, COUNT(*) AS n_terms, CAST(SUM(sm) AS BIGINT) / 1000000.0 AS bm25
       |FROM scored GROUP BY doc_id
       |ORDER BY bm25 DESC, doc_id
       |LIMIT $Bm25TopK""".stripMargin
  }

  // --- 125. quantile-gated screening selection (r5) ------------------------
  /** "Screen the top quartile": keep every doc whose q38 model score is
    * ≥ the score at ascending rank ⌈0.75·n⌉ — the reviewer-budget gate
    * a prioritized-screening workflow (the reference's WSS framing)
    * applies to the ranked list, as a standalone relational op. The
    * threshold is an EXACT order statistic via
    * [[graft.functions.OrderStats.keysAtRanks]] — aggregate-only
    * refinement passes, so no global sort ever materializes the corpus
    * — resolved to a VALUE gate: ties at the cut are all kept
    * (deterministic and oracle-replayable; ascending rank ⌈0.75n⌉ keeps
    * n − ⌈0.75n⌉ + 1 = ⌊n/4⌋ + 1 docs tie-free — one past a strict
    * quartile — plus whatever ties share the cut score; r5 ADVICE).
    *
    * Scale shape: scoring is q36/q38's own plans; the order statistic
    * is O(log range) aggregate passes over (score, id); the gate is one
    * corpus-linear filter against a scalar. Nothing driver-sized but
    * the threshold itself. */
  def q125(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // localCheckpoint, not cache: the snapshot backs the count, the
    // OrderStats refinement passes AND the returned plan, and its blocks
    // are OWNED ([[graft.CheckpointRegistry]]) — released per-op by the
    // harness or by a library caller's `scoped {}` — where a bare cache
    // leaked until somebody's clearCache (r5 ADVICE). Two int64-class
    // columns per doc, the documented snapshot size class.
    val scored = graft.CheckpointRegistry.checkpoint(
      q38(s, dir).select(col("doc_id"), col("score")))
    // one fused pass over the snapshot: n for the rank position + the
    // rank search's global stats (r7)
    val g = scored.agg(count(lit(1)), min(col("score")), max(col("score")),
      min(col("doc_id")), max(col("doc_id"))).head()
    val n = g.getLong(0)
    val k = math.max(1L, (3 * n + 3) / 4) // ceil(0.75·n), ascending rank
    val thr = graft.functions.OrderStats.keysAtRanks(
        scored.select(col("score").as("v"), col("doc_id").as("id")),
        Seq((0L, k)).toDF("idx", "t"),
        preGlob = if (n == 0) None
          else Some((n, g.getDouble(1), g.getDouble(2), g.getLong(3), g.getLong(4))))
      .select(col("v")).head().getDouble(0)
    scored.filter(col("score") >= lit(thr))
      .orderBy(col("doc_id"))
  }

  lazy val q125Sql: String =
    s"""WITH scored AS ($q38SqlNoOrder),
       |ranked AS (
       |  SELECT score, ROW_NUMBER() OVER (ORDER BY score, doc_id) AS rn
       |  FROM scored),
       |nn AS (SELECT COUNT(*) AS c FROM scored),
       |thr AS (SELECT score AS s FROM ranked, nn
       |  WHERE rn = GREATEST(1, (3 * c + 3) // 4))
       |SELECT doc_id, score
       |FROM scored
       |WHERE score >= (SELECT s FROM thr)
       |ORDER BY doc_id""".stripMargin

  // --- 128. vocabulary truncation: the ACTION behind q92's readout (r6) ---
  /** Rewrite every doc's token stream onto a fixed top-K vocabulary,
    * replacing out-of-vocabulary tokens with [[UnkToken]] — the
    * vocabulary-truncation pass a tokenizer-training / embedding-table
    * pipeline runs after q92 has MEASURED coverage: emit per doc the
    * token count, OOV count, OOV rate (half-away micros lattice) and
    * the rewritten text.
    *
    * The vocabulary is top-[[VocabTruncK]] by (count DESC, token ASC) —
    * a deterministic total order, so both engines pick the identical
    * set. K is a CONSTANT: the collected vocabulary is driver-sized by
    * construction (the q105 probed-cell class), and inlining it as a
    * literal array turns the rewrite into a per-row array transform
    * against a 16-element literal — no join, no second shuffle, corpus
    * cost = one count aggregate + one linear rewrite pass. (`toks` is
    * projected to an attribute BEFORE the lambdas so the higher-order
    * functions reference the materialized array, not the tokenizer
    * expression — the [[graft.text.Text.shingles]] re-evaluation trap.)
    * At 100 TB a realistic K (50k–250k) broadcasts instead of inlining;
    * the shape is otherwise unchanged. */
  val VocabTruncK = 16
  val UnkToken = "<unk>"

  /** Past this K the vocabulary stops inlining as a codegen literal
    * array and joins as a BROADCAST relation instead (r12 VERDICT watch
    * #1: at a realistic K — 50k–250k — a literal array in generated code
    * is a real risk: code size, constant-pool pressure, and a per-token
    * linear scan; a broadcast hash join probes in O(1) and never enters
    * the generated source). Both forms share the output assembly below;
    * TextSpec pins output equality across the switch and the broadcast
    * plan shape at K = 10⁴. */
  val VocabLiteralMax = 1024

  def q128(s: SparkSession, dir: String): DataFrame =
    q128Of(s, dir, VocabTruncK)

  /** [[q128]] at an arbitrary K, picking the literal or broadcast form
    * by [[VocabLiteralMax]]. The top-K rule (count DESC, token ASC) is
    * computed once here for both forms. */
  private[graft] def q128Of(s: SparkSession, dir: String, k: Int): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), graft.text.Text.tokens(col("text")).as("toks"))
    val vc = toks.select(explode(col("toks")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("token")).limit(k)
      .select(col("token"))
    if (k <= VocabLiteralMax)
      vocabTruncLiteral(toks, vc.collect().map(_.getString(0)).sorted)
    else vocabTruncBroadcast(toks, vc)
  }

  /** The literal form: the driver-sized vocabulary inlined as an array
    * literal — per-row array transforms, no join, no second shuffle. */
  private[graft] def vocabTruncLiteral(toks: DataFrame,
      vocab: Array[String]): DataFrame = {
    val vlit = array(vocab.map(lit(_)): _*)
    vocabTruncOut(toks
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(filter(col("toks"), t => !array_contains(vlit, t)))
          .cast("long").as("n_oov"),
        concat_ws(" ", transform(col("toks"),
          t => when(array_contains(vlit, t), t).otherwise(lit(UnkToken))))
          .as("text_trunc")))
  }

  /** The broadcast form: tokens explode positioned, LEFT-join the
    * broadcast vocabulary, one per-doc aggregate rebuilds the rewritten
    * text in position order — the vocabulary never touches the driver
    * or the generated code. At 100 TB this is the only viable shape:
    * the explode is corpus-linear, the join is map-side, and the
    * groupBy shuffles doc-sized rows once. */
  private[graft] def vocabTruncBroadcast(toks: DataFrame,
      vocabDf: DataFrame): DataFrame = {
    val marked = broadcast(vocabDf.select(col("token"),
      lit(1).as("__in_vocab")))
    val rebuilt = toks
      .select(col("doc_id"), posexplode_outer(col("toks"))
        .as(Seq("pos", "token")))
      .join(marked, Seq("token"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(col("token")).as("n_tokens"),
        sum(when(col("token").isNotNull && col("__in_vocab").isNull, 1L)
          .otherwise(0L)).as("n_oov"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"),
            // empty-toks docs surface as one null row under
            // posexplode_outer — keep t null so concat_ws drops it and
            // the doc rewrites to "" exactly like the literal form
            when(col("token").isNull, lit(null: String))
              .when(col("__in_vocab").isNotNull, col("token"))
              .otherwise(lit(UnkToken)).as("t")))),
          f => f.getField("t"))).as("text_trunc"))
  // count(token) skips the outer-explode null, so zero-token docs keep
  // their row at n_tokens = 0 — the literal form's size(toks) semantics
    vocabTruncOut(rebuilt)
  }

  /** Shared output tail: the oov-rate lattice + column order + sort. */
  private def vocabTruncOut(rows: DataFrame): DataFrame = {
    import graft.functions.Num
    rows
      .withColumn("oov_rate",
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise(Num.ratio6(col("n_oov"), col("n_tokens"))))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"), col("oov_rate"),
        col("text_trunc"))
      .orderBy(col("doc_id"))
  }

  lazy val q128Sql: String =
    s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |vc AS (SELECT token, COUNT(*) AS c
       |  FROM (SELECT unnest(toks) AS token FROM t) GROUP BY token
       |  ORDER BY c DESC, token LIMIT $VocabTruncK),
       |vl AS (SELECT list(token) AS vs FROM vc),
       |r AS (
       |  SELECT doc_id, len(toks) AS n_tokens,
       |    len(list_filter(toks, x -> NOT list_contains(vs, x))) AS n_oov,
       |    array_to_string(list_transform(toks,
       |      x -> CASE WHEN list_contains(vs, x) THEN x ELSE '$UnkToken' END),
       |      ' ') AS text_trunc
       |  FROM t, vl)
       |SELECT doc_id, n_tokens, n_oov,
       |  CASE WHEN n_tokens = 0 THEN 0.0
       |    ELSE ${graft.functions.Num.idivHalfAwaySql(
                  "n_oov * 1000000", "n_tokens")} / 1000000.0 END AS oov_rate,
       |  text_trunc
       |FROM r
       |ORDER BY doc_id""".stripMargin

  // --- 195. Unicode tokenization oracle (r14 VERDICT #1) --------------------
  /** The cross-engine PROOF that the r14 Unicode token class
    * (`[\p{L}\p{N}]+`, [[graft.expressions.TokensOf]]) agrees between
    * the native Spark expression and the DuckDB oracle on live
    * multilingual data: the corpus (pure ASCII by construction —
    * TESTDATA.md) is deterministically transliterated letter→script
    * via `translate` (Cyrillic incl. UPPERCASE targets to exercise
    * non-ASCII case folding, Greek lowercase — word-final Σ/ς is a
    * documented full-vs-simple mapping divergence so capitals stay out,
    * Arabic/Hebrew/CJK Lo letters with no case, a Devanagari Nd digit),
    * then tokenized and 3-shingled on BOTH engines; per doc: token
    * count, token-codepoint mass, exact int64 sums of 48-bit md5
    * prefixes over every token and every shingle, and (r14) the
    * [[Text.BpeTokenRegex]] class count over the same text — the
    * cross-engine proof for the Unicode BPE classes too. The driver's hash
    * compare therefore pins token BYTES (md5 is over UTF-8), run
    * boundaries, multi-byte lowercasing, and shingle joins across
    * engines — the multilingual analogue of the ASCII proof the other
    * ~40 token consumers provide.
    *
    * Scale shape: one corpus pass per readout branch over the cached
    * tokenized projection (the [[docsWithToks]] treatment), two
    * map-side-combined groupBy(doc_id) aggregates, one doc-keyed join
    * — embarrassingly parallel, no corpus-wide window. */
  private val UniFrom = "abcdefghijklmnopqrstuvwxyz"
  private val UniTo = "абвГдежηθικλμمرسЖρσ東京५Дבыш"

  def q195(s: SparkSession, dir: String): DataFrame = {
    val toked = Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"),
        tokens(translate(lower(col("text")), UniFrom, UniTo)).as("toks"))
      .cache()
    def fp48(c: org.apache.spark.sql.Column) =
      conv(substring(md5(c), 1, 12), 16, 10).cast("long")
    // the BPE class set over the same transliterated text — the
    // cross-engine proof for Text.BpeTokenRegex's r14 Unicode classes
    // (letter runs / number runs / single symbols), joined in beside
    // the token fingerprints
    val bpe = Tables.documents(s, dir)
      .select(col("doc_id"),
        bpeTokenCount(translate(lower(col("text")), UniFrom, UniTo))
          .as("n_bpe"))
    val ta = toked.select(col("doc_id"), explode(col("toks")).as("tok"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(length(col("tok"))).cast("long").as("n_chars"),
        sum(fp48(col("tok"))).cast("long").as("tok_fp"))
      .join(bpe, "doc_id")
    val sa = toked.select(col("doc_id"),
        explode(shingles(col("toks"), 3)).as("sh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(fp48(col("sh"))).cast("long").as("sh_fp"))
    ta.join(sa, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_chars"), col("tok_fp"),
        col("n_bpe"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("sh_fp"), lit(0L)).as("sh_fp"))
      .orderBy(col("doc_id"))
  }

  lazy val q195Sql: String = {
    def fp48Sql(x: String) =
      s"CAST(('0x' || substr(md5($x), 1, 12)) AS BIGINT)"
    s"""WITH uni AS (SELECT doc_id,
       |    ${toksSqlOf(s"translate(lower(text), '$UniFrom', '$UniTo')")} AS toks
       |  FROM documents),
       |tk AS (SELECT doc_id, unnest(toks) AS tok FROM uni),
       |ta AS (SELECT doc_id, COUNT(*) AS n_tokens,
       |    CAST(SUM(len(tok)) AS BIGINT) AS n_chars,
       |    CAST(SUM(${fp48Sql("tok")}) AS BIGINT) AS tok_fp
       |  FROM tk GROUP BY doc_id),
       |bpe AS (SELECT doc_id,
       |    CAST(${Text.bpeCountSqlOf(
              s"translate(lower(text), '$UniFrom', '$UniTo')")} AS BIGINT)
       |      AS n_bpe
       |  FROM documents),
       |shx AS (SELECT doc_id, unnest(${Text.shinglesSql("toks", 3)}) AS sh
       |  FROM uni),
       |sa AS (SELECT doc_id, COUNT(*) AS n_shingles,
       |    CAST(SUM(${fp48Sql("sh")}) AS BIGINT) AS sh_fp
       |  FROM shx GROUP BY doc_id)
       |SELECT ta.doc_id, n_tokens, n_chars, tok_fp, n_bpe,
       |  COALESCE(n_shingles, 0) AS n_shingles,
       |  COALESCE(sh_fp, 0) AS sh_fp
       |FROM ta JOIN bpe USING (doc_id) LEFT JOIN sa USING (doc_id)
       |ORDER BY ta.doc_id""".stripMargin
  }

  // --- 198. script profile / routing readout (r14) --------------------------
  /** The multilingual ROUTING primitive the Unicode token class (r14)
    * enables: classify each document by its dominant Unicode SCRIPT —
    * the decision a 100 TB pipeline makes before anything else
    * (per-script tokenizer/quality/LM models; q44's marker-word lang-id
    * is Latin-bound by construction). Per doc: codepoint counts for the
    * seven scripts the corpus exercises (via the q195 transliteration —
    * the shipped corpus is pure-ASCII Latin), dominant = the greatest
    * count with alphabetical tiebreak ('none' when no script codepoint
    * occurs); registered readout = the per-script rollup a router
    * budgets by: doc count, dominant-script codepoint mass, all-script
    * mass, and exact ratio6 PURITY (dominant/all — low purity flags
    * mixed-script docs that need span-level routing).
    *
    * Script classes are Unicode script properties — Java spells them
    * `\p{IsCyrillic}`, RE2 `\p{Cyrillic}`; both read the same Unicode
    * script data, so the oracle is FULL. Scale shape: one corpus pass,
    * seven codegen'd class-match scans per row + one map-side-combined
    * groupBy(script) over ≤ 8 keys; if script profiling ever became the
    * hot path, the seven scans fuse into one native codepoint-category
    * expression (the TokensOf treatment) — kept declarative here for
    * cross-engine parity at zero custom code. */
  private val Scripts: Seq[String] =
    Seq("arabic", "cyrillic", "devanagari", "greek", "han", "hebrew",
      "latin")
  private def scriptClassRe2(s: String): String =
    s"\\p{${s.capitalize}}"

  /** Per-doc dominant-script classification — the q198 rule factored
    * (r15) so the routing CONSUMER ([[q202]]) shares ONE definition
    * with the routing readout. Input must carry (doc_id, utext);
    * output adds (script, g, all_chars) and keeps utext. */
  private def scriptOf(uni: DataFrame): DataFrame = {
    // ONE fused codepoint walk per row (r17 — the optimization the
    // r14 note above promised): the seven regexp_count scans were the
    // dominant cost of every routing-family readout. The counts array
    // is aliased in its own projection, so CollapseProject cannot
    // inline the walk into the seven element_at references (it never
    // duplicates non-cheap aliases referenced more than once); the
    // oracles keep the regexp form, so the driver's hash gate re-proves
    // the scan ≡ regex equivalence every round.
    require(Scripts == graft.expressions.ScriptCountsOf.Scripts,
      "scriptOf and ScriptCountsOf must agree on the class list")
    val counted = uni.select(col("doc_id"), col("utext"),
        graft.expressions.ScriptCountsOf.scriptCounts(col("utext"))
          .as("__sc"))
      .select(
        (col("doc_id") +: col("utext") +: Scripts.zipWithIndex.map {
          case (n, i) => element_at(col("__sc"), i + 1).as(s"c_$n")
        }): _*)
      .withColumn("g", greatest(Scripts.map(n => col(s"c_$n")): _*))
      .withColumn("all_chars",
        Scripts.map(n => col(s"c_$n")).reduce(_ + _))
    val dom = Scripts.tail.foldLeft(
      when(col(s"c_${Scripts.head}") === col("g") && col("g") > 0,
        lit(Scripts.head))) { (acc, n) =>
      acc.when(col(s"c_$n") === col("g") && col("g") > 0, lit(n))
    }.otherwise(lit("none"))
    counted.withColumn("script", dom)
      .select(col("doc_id"), col("utext"), col("script"), col("g"),
        col("all_chars"))
  }

  /** The classified transliterated corpus — `(doc_id, utext, script)`,
    * the q198 routing decision attached to each doc. Exposed to the
    * operators package so the per-script tokenizer trainer
    * ([[BpeOps.q203]]) consumes the SAME classification rule as the
    * routing readout and the routed quality gate. */
  private[operators] def scriptDocs(s: SparkSession, dir: String): DataFrame =
    scriptOf(uniDocs(s, dir))
      .select(col("doc_id"), col("utext"), col("script"))

  /** The transliterated corpus (the q195/q198 fixture relation). */
  private def uniDocs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"),
        translate(lower(col("text")), UniFrom, UniTo).as("utext"))

  def q198(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Num
    scriptOf(uniDocs(s, dir))
      .groupBy(col("script"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("g")).as("dom_chars"),
        sum(col("all_chars")).as("script_chars"))
      .withColumn("purity",
        when(col("script_chars") === 0, lit(0.0))
          .otherwise(Num.ratio6(col("dom_chars"), col("script_chars"))))
      .select(col("script"), col("n_docs"), col("dom_chars"),
        col("script_chars"), col("purity"))
      .orderBy(col("script"))
  }

  /** The transliterated-corpus + per-doc classification CTEs — `uni`
    * then `cl(doc_id, script, g, all_chars)` — ONE fragment behind
    * [[q198Sql]], [[q202Sql]] and the per-script trainer oracles
    * ([[BpeOps.q203Sql]]/[[BpeOps.q204Sql]]) (the scriptOf rule's SQL
    * twin). */
  private[operators] lazy val scriptClCtesSql: String = {
    val counts = Scripts.map(n =>
      s"CAST(len(regexp_extract_all(utext, '${scriptClassRe2(n)}')) AS BIGINT) AS c_$n")
      .mkString(",\n    ")
    val g = "GREATEST(" + Scripts.map(n => s"c_$n").mkString(", ") + ")"
    val all = Scripts.map(n => s"c_$n").mkString(" + ")
    val dom = "CASE " + Scripts.map(n =>
      s"WHEN c_$n = g AND g > 0 THEN '$n'").mkString(" ") +
      " ELSE 'none' END"
    s"""uni AS (SELECT doc_id,
       |    translate(lower(text), '$UniFrom', '$UniTo') AS utext
       |  FROM documents),
       |cnt AS (SELECT doc_id,
       |    $counts
       |  FROM uni),
       |dm AS (SELECT *, $g AS g, $all AS all_chars FROM cnt),
       |cl AS (SELECT doc_id, $dom AS script, g, all_chars FROM dm)""".stripMargin
  }

  lazy val q198Sql: String = {
    import graft.functions.Num
    s"""WITH $scriptClCtesSql
       |SELECT script, COUNT(*) AS n_docs,
       |  CAST(SUM(g) AS BIGINT) AS dom_chars,
       |  CAST(SUM(all_chars) AS BIGINT) AS script_chars,
       |  CASE WHEN SUM(all_chars) = 0 THEN 0.0
       |    ELSE ${Num.ratio6Sql("SUM(g)", "SUM(all_chars)")} END AS purity
       |FROM cl
       |GROUP BY script
       |ORDER BY script""".stripMargin
  }

  // --- 201. unsegmented-script (CJK) segmentation readout (r15) --------------
  /** The r14 VERDICT #3 boundary made real, with its proof: scripts
    * written without word delimiters (Han here — the corpus
    * transliterated letter→Han, spaces deleted, through ONE mapping —
    * a genuinely delimiter-free corpus) tokenize
    * PER CODEPOINT under the r15 [[graft.text.Text.tokens]] rule, so
    * BPE's word-keyed vocab relation stays BOUNDED (≤ the 26 mapped
    * ideographs + the corpus's digit runs) instead of treating every
    * distinct clause as a distinct word. The readout carries both
    * sides: the segmented stream's token/vocab counts and max token
    * width next to the CLAUSE-RUN counterfactual (the pre-r15 behavior
    * — raw `[\p{L}\p{N}]+` runs with no per-codepoint fallback), whose
    * vocab is the number of distinct clauses: the vocab-explosion mode
    * the fallback exists to prevent, quantified on live data. FULL
    * oracle: both token streams replay in DuckDB (translate + the
    * shared segmentation fragment vs the raw run class — RE2 and Java
    * share script AND category tables).
    *
    * Scale shape: two corpus-linear explode+aggregate passes (map-side
    * combined; distinct-token cardinality is alphabet-sized under
    * segmentation) + a 1-row broadcast crossJoin readout. */
  private[graft] val CjkFrom = "abcdefghijklmnopqrstuvwxyz"
  private[graft] val CjkTo = "的一是不了人我在有他这中大来上国个到说们为子和你地出"

  def q201(s: SparkSession, dir: String): DataFrame = {
    require(CjkTo.codePointCount(0, CjkTo.length) == 26 &&
      CjkTo.distinct.length == CjkTo.length)
    // localCheckpoint + registry-owned blocks (the q50/q139 pattern)
    // rather than .cache(): three aggregates read ct, and the registry
    // releases the blocks at the op boundary instead of letting them
    // linger until the family-boundary clearCache (r15 ADVICE).
    val ct = graft.CheckpointRegistry.checkpoint(Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"),
        // the 27th `from` char (space) has no `to` counterpart, so both
        // engines DELETE it (PostgreSQL translate semantics) — the
        // fixture is genuinely delimiter-free, like real CJK text
        translate(lower(col("text")), CjkFrom + " ", CjkTo).as("ctext")))
    val seg = ct.select(explode(tokens(col("ctext"))).as("tok"))
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("tok")).as("n_vocab"),
        max(length(col("tok"))).cast("long").as("max_tok_chars"))
    val clause = ct
      .select(explode(regexp_extract_all(lower(col("ctext")),
        lit("[\\p{L}\\p{N}]+"), lit(0))).as("tok"))
      .agg(countDistinct(col("tok")).as("n_vocab_clause"),
        max(length(col("tok"))).cast("long").as("max_clause_chars"))
    ct.agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(seg))
      .crossJoin(broadcast(clause))
  }

  lazy val q201Sql: String =
    s"""WITH ct AS (SELECT doc_id,
       |    translate(lower(text), '$CjkFrom ', '$CjkTo') AS ctext
       |  FROM documents),
       |tk AS (SELECT unnest(${toksSqlOf("ctext")}) AS tok FROM ct),
       |seg AS (SELECT COUNT(*) AS n_tokens,
       |    COUNT(DISTINCT tok) AS n_vocab,
       |    CAST(MAX(len(tok)) AS BIGINT) AS max_tok_chars
       |  FROM tk),
       |ck AS (SELECT unnest(regexp_extract_all(lower(ctext),
       |    '[\\p{L}\\p{N}]+')) AS tok FROM ct),
       |clause AS (SELECT COUNT(DISTINCT tok) AS n_vocab_clause,
       |    CAST(MAX(len(tok)) AS BIGINT) AS max_clause_chars
       |  FROM ck),
       |nd AS (SELECT COUNT(*) AS n_docs FROM ct)
       |SELECT n_docs, n_tokens, n_vocab, max_tok_chars, n_vocab_clause,
       |  max_clause_chars
       |FROM nd CROSS JOIN seg CROSS JOIN clause""".stripMargin

  // --- 202. script-ROUTED quality gate (r15 — r14 VERDICT #7) ----------------
  /** The consumer that makes [[q198]]'s routing primitive DO something:
    * a token-length quality gate routed by dominant script. Per-doc
    * quality = mean token length in exact micros over the
    * transliterated corpus — and under the r15 per-codepoint rule, Han
    * tokens are width 1 while Cyrillic/Greek/Arabic words run 3–8, so
    * ONE global length threshold cuts Han-dominant docs wholesale (the
    * classic un-routed-gate failure CCNet-style pipelines route to
    * avoid) while the ROUTED gate compares each doc to ITS script's
    * mean. Readout per script: doc count, the script's mean (the routed
    * threshold), pass counts under BOTH gates, and `n_flipped` — the
    * docs whose gate decision the routing CHANGES, the number that
    * proves the primitive earns its place. UnicodeTokenSpec pins the
    * Latin-only reconciliation: with one script, routed ≡ global and
    * nothing flips. FULL oracle: the shared classification CTEs + the
    * token aggregate replayed with exact integer-micros means.
    *
    * Scale shape: one corpus token pass (map-side combined per-doc
    * aggregate), one ≤8-row script mean + a 1-row global mean broadcast
    * back, one ≤8-row readout groupBy. */
  def q202(s: SparkSession, dir: String): DataFrame =
    scriptRoutedGateOf(uniDocs(s, dir))

  /** [[q202]] over any `(doc_id, utext)` relation — exposed so
    * UnicodeTokenSpec can pin the Latin-only reconciliation (one
    * script ⇒ routed ≡ global, zero flips). */
  private[graft] def scriptRoutedGateOf(uni: DataFrame): DataFrame = {
    import graft.functions.Num
    val cls = scriptOf(uni)
      .select(col("doc_id"), col("utext"), col("script"))
    // localCheckpoint + registry-owned blocks (the q201 pattern, r17):
    // dq is referenced THREE times — the script-mean broadcast, the
    // 1-row global-mean broadcast, and the readout aggregate — and each
    // broadcast build is its own job, so uncheckpointed the corpus
    // token pass + the 7-regex classification executed 3× per call
    // (plan audit: 6 parquet scans; bench 1.00 s → 0.4 s-class). The
    // checkpointed relation is doc-sized (three scalars per doc).
    val dq = graft.CheckpointRegistry.checkpoint(cls
      .select(col("doc_id"), col("script"),
        explode(tokens(col("utext"))).as("tok"))
      .groupBy(col("doc_id"), col("script"))
      .agg(Num.idivHalfAway(
        sum(length(col("tok")).cast("long")) * lit(1000000L),
        count(lit(1))).as("q_micros")))
    val sm = dq.groupBy(col("script"))
      .agg(Num.idivHalfAway(sum(col("q_micros")), count(lit(1)))
        .as("mean_micros"))
    val gm = dq.agg(Num.idivHalfAway(sum(col("q_micros")), count(lit(1)))
      .as("global_micros"))
    dq.join(broadcast(sm), "script")
      .crossJoin(broadcast(gm))
      .withColumn("pr",
        (col("q_micros") >= col("mean_micros")).cast("long"))
      .withColumn("pg",
        (col("q_micros") >= col("global_micros")).cast("long"))
      .groupBy(col("script"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("mean_micros")).as("mean_len_micros"),
        sum(col("pr")).as("n_pass_routed"),
        sum(col("pg")).as("n_pass_global"),
        sum(when(col("pr") =!= col("pg"), 1L).otherwise(0L))
          .as("n_flipped"))
      .orderBy(col("script"))
  }

  lazy val q202Sql: String = {
    import graft.functions.Num
    def mean(p: String, q: String) = Num.idivHalfAwaySql(p, q)
    s"""WITH $scriptClCtesSql,
       |tk AS (SELECT doc_id, unnest(${toksSqlOf("utext")}) AS tok FROM uni),
       |dq AS (SELECT c.script, t.doc_id,
       |    ${mean("SUM(len(t.tok)) * 1000000", "COUNT(*)")} AS q_micros
       |  FROM tk t JOIN cl c USING (doc_id)
       |  GROUP BY c.script, t.doc_id),
       |sm AS (SELECT script,
       |    ${mean("SUM(q_micros)", "COUNT(*)")} AS mean_micros
       |  FROM dq GROUP BY script),
       |gm AS (SELECT ${mean("SUM(q_micros)", "COUNT(*)")} AS global_micros
       |  FROM dq),
       |fl AS (SELECT d.script, d.q_micros, s.mean_micros,
       |    CASE WHEN d.q_micros >= s.mean_micros THEN 1 ELSE 0 END AS pr,
       |    CASE WHEN d.q_micros >= (SELECT global_micros FROM gm)
       |      THEN 1 ELSE 0 END AS pg
       |  FROM dq d JOIN sm s USING (script))
       |SELECT script, COUNT(*) AS n_docs,
       |  CAST(MIN(mean_micros) AS BIGINT) AS mean_len_micros,
       |  CAST(SUM(pr) AS BIGINT) AS n_pass_routed,
       |  CAST(SUM(pg) AS BIGINT) AS n_pass_global,
       |  CAST(SUM(CASE WHEN pr <> pg THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_flipped
       |FROM fl
       |GROUP BY script
       |ORDER BY script""".stripMargin
  }

  val ops: Seq[Op] = Seq(
    Op("q33_tokenize", q33, Some(q33Sql)),
    Op("q195_unicode_tokens", q195, Some(q195Sql)),
    Op("q198_script_profile", q198, Some(q198Sql)),
    Op("q201_cjk_segmentation", q201, Some(q201Sql)),
    Op("q202_script_routed_gate", q202, Some(q202Sql)),
    Op("q34_stopword_tf", q34, Some(q34Sql)),
    Op("q35_ngrams", q35, Some(q35Sql)),
    Op("q36_tfidf", q36, Some(q36Sql)),
    Op("q37_hashing_tf", q37, Some(q37Sql)),
    Op("q38_linear_score", q38, Some(q38Sql)),
    Op("q39_eval_metrics", q39, Some(q39Sql)),
    Op("q40_wss95", q40, Some(q40Sql)),
    Op("q43_cross_validate", q43, Some(q43Sql)),
    Op("q44_lang_id", q44, Some(q44Sql)),
    Op("q45_quality_score", q45, Some(q45Sql)),
    Op("q46_token_count", q46, Some(q46Sql)),
    Op("q47_fingerprint", q47, Some(q47Sql)),
    Op("q63_threshold_tune", q63, Some(q63Sql)),
    Op("q132_auc", q132, Some(q132Sql)),
    Op("q133_avg_precision", q133, Some(q133Sql)),
    Op("q134_calibration", q134, Some(q134Sql)),
    Op("q71_stemming", q71, Some(q71Sql)),
    Op("q76_multiclass_metrics", q76, Some(q76Sql)),
    Op("q137_confusion_matrix", q137, Some(q137Sql)),
    Op("q80_repetition_ratio", q80, Some(q80Sql)),
    Op("q90_lm_quality", q90, Some(q90Sql)),
    Op("q180_ppl_buckets", q180, Some(q180Sql)),
    Op("q186_ppl_mix", q186, Some(q186Sql)),
    Op("q92_vocab_coverage", q92, Some(q92Sql)),
    Op("q101_heavy_hitters", q101, Some(q101Sql)),
    Op("q102_heavy_hitters_grouped", q102, Some(q102Sql)),
    Op("q103_bm25", q103, Some(q103Sql)),
    Op("q125_quantile_gate", q125, Some(q125Sql)),
    Op("q128_vocab_truncate", q128, Some(q128Sql)),
    Op("q130_bm25_incremental", q130, Some(q130Sql)),
  )
}

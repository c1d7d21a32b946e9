package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Op, Tables}
import graft.functions.Num
import graft.text.Text

/** Round-8 evaluation + corpus-QA wave: the chance-corrected agreement and
  * ROC readouts that complete the reference paper's evaluation tables
  * (alongside q39/q76/q132–q134/q137), and three corpus-quality gates a
  * training-data pipeline runs before admission (Zipf sanity, PII scrub,
  * robust length outliers).
  *
  * Registered in the TextOps cache family: every op here starts from the
  * family-cached tokenized corpus ([[TextOps.docsWithToks]]) or scored
  * relation (q38's cache), so the corpus passes are structural cache hits
  * within a Bench/Verify group, exactly like q39–q43.
  *
  * Reference surface: WFSRBigData/systematic-review-classification
  * evaluates classifiers with precision/recall/F1/WSS@95 (see
  * reference/README.md:1–6 — pointer repo); kappa and ROC are the two
  * remaining standard screening-evaluation readouts.
  */
object EvalOps {

  // --- 138. Cohen's kappa ---------------------------------------------------
  /** Chance-corrected agreement of the q44 language prediction against the
    * tagged language — the inter-rater statistic systematic-review
    * screening reports alongside the confusion matrix (q137).
    *
    * κ = (p_o − p_e)/(1 − p_e) with p_o = Σ diag / n and
    * p_e = Σ_c row_c·col_c / n². Everything derives from the (truth,
    * pred) COUNT CELLS (≤ |langs|² rows — catalog-sized by contract,
    * enforced), so the corpus is touched exactly once by the cell
    * aggregate; the κ arithmetic folds driver-side in BigInt (the
    * q120/q126 ≤catalog-fold pattern) on the SAME half-away 1e-6 lattice
    * as [[Num.ratio6]] — exact at any corpus size (n² overflows int64
    * past ~3e9 docs; BigInt does not care), hash-identical to the DuckDB
    * replay, whose n²-mass terms (chance mass s, pe/kappa numerators and
    * denominators) are cast through HUGEINT so the replay holds to the
    * same bound (r8 ADVICE: the plain-BIGINT form left int64 at ~2×10⁶
    * docs while this doc claimed ~3e9). */
  def q138(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val j = TextOps.q44(s, dir).join(
      Tables.documents(s, dir).select(col("doc_id").as("d2"), col("lang").as("y")),
      col("doc_id") === col("d2"))
      .select(col("y").as("truth"), col("pred_lang").as("pred"))
    val cells = j.groupBy(col("truth"), col("pred")).agg(count(lit(1)).as("n"))
      .collect()
    require(cells.length <= 4096,
      s"q138: ${cells.length} (truth, pred) cells — class set is not " +
        "catalog-sized; the driver fold contract (≤4096) is violated")
    val n = cells.iterator.map(r => BigInt(r.getLong(2))).sum
    require(n > 0, "q138: empty corpus")
    val diag = cells.iterator
      .filter(r => r.getString(0) == r.getString(1))
      .map(r => BigInt(r.getLong(2))).sum
    val rowT = cells.groupBy(_.getString(0))
      .map { case (c, rs) => c -> rs.iterator.map(r => BigInt(r.getLong(2))).sum }
    val colT = cells.groupBy(_.getString(1))
      .map { case (c, rs) => c -> rs.iterator.map(r => BigInt(r.getLong(2))).sum }
    val chance = rowT.keysIterator
      .filter(colT.contains).map(c => rowT(c) * colT(c)).sum
    val nn = n * n
    require(nn != chance,
      "q138: p_e = 1 (all mass in one truth=pred class) — κ undefined")
    // ⌊p/q⌉ half-away-from-zero — the BigInt replay of Num.idivHalfAway
    def halfAway(p: BigInt, q: BigInt): BigInt =
      if (p >= 0) (p * 2 + q) / (q * 2) else -(((-p) * 2 + q) / (q * 2))
    val M = BigInt(1000000)
    val po = halfAway(diag * M, n).toDouble / 1e6
    val pe = halfAway(chance * M, nn).toDouble / 1e6
    val kap = halfAway((n * diag - chance) * M, nn - chance).toDouble / 1e6
    Seq((n.toLong, diag.toLong, po, pe, kap))
      .toDF("n_docs", "n_agree", "po", "pe", "kappa")
  }

  val q138Sql: String =
    s"""WITH j AS (
       |  SELECT lang AS truth, ${TextOps.predLangSql} AS pred
       |  FROM (SELECT lang, ${Text.toksSql} AS toks FROM documents) t),
       |cells AS (SELECT truth, pred, COUNT(*) AS n FROM j GROUP BY truth, pred),
       |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN truth = pred THEN n ELSE 0 END) AS BIGINT) AS n_agree
       |  FROM cells),
       |rt AS (SELECT truth AS cls, CAST(SUM(n) AS BIGINT) AS r FROM cells GROUP BY truth),
       |ct AS (SELECT pred AS cls, CAST(SUM(n) AS BIGINT) AS c FROM cells GROUP BY pred),
       |ch AS (SELECT SUM(CAST(r AS HUGEINT) * c) AS s FROM rt JOIN ct USING (cls))
       |SELECT n_docs, n_agree,
       |  ${Num.ratio6Sql("CAST(n_agree AS HUGEINT)", "n_docs")} AS po,
       |  ${Num.ratio6Sql("s", "CAST(n_docs AS HUGEINT) * n_docs")} AS pe,
       |  ${Num.ratio6Sql("CAST(n_docs AS HUGEINT) * n_agree - s",
            "CAST(n_docs AS HUGEINT) * n_docs - s")} AS kappa
       |FROM tot CROSS JOIN ch""".stripMargin

  // --- 139. ROC curve points ----------------------------------------------
  /** The (FPR, TPR) operating points behind q132's AUC, one row per
    * distinct score threshold (descending) — the curve the paper's AUC
    * summarizes. Same scale shape as [[TextOps.aucOf]]: the corpus
    * collapses to per-score (positives, negatives) groups (bounded by
    * the 6-decimal score lattice, far under corpus size), cumulative
    * counts ride [[graft.functions.PrefixSum]] over the AGGREGATED
    * groups (no corpus sort/window), and the rates are exact half-away
    * micros. The group relation is localCheckpointed (blocks owned via
    * [[graft.CheckpointRegistry]], the q50 pattern) because THREE small
    * consumers read it — the class totals, PrefixSum's bin range, and
    * the binned scan — and each would otherwise re-run the corpus
    * aggregation. Contract: both classes present. */
  def q139(s: SparkSession, dir: String): DataFrame = {
    val g = TextOps.scoredEn(s, dir)
      .select(col("score"), col("y"))
      .groupBy(col("score")).agg(
        sum(col("y")).cast("long").as("p"),
        (count(lit(1)) - sum(col("y"))).cast("long").as("q"))
      // exact descending order key: scores sit ON the 1e-6 lattice
      // (q38 rounds), so −round(score·10⁶) is an order-reversing
      // int64 bijection
      .withColumn("bkey", -round(col("score") * 1e6).cast("long"))
    val gc = graft.CheckpointRegistry.checkpoint(g)
    val tot = gc.agg(sum(col("p")).as("n_pos"), sum(col("q")).as("n_neg"))
    graft.functions.PrefixSum
      .withRunningSums(gc, "bkey", Nil, Seq("p" -> "cum_tp", "q" -> "cum_fp"))
      .crossJoin(broadcast(tot))
      .select(col("score").as("threshold"),
        col("cum_tp"), col("cum_fp"),
        Num.ratio6(col("cum_tp"), col("n_pos")).as("tpr"),
        Num.ratio6(col("cum_fp"), col("n_neg")).as("fpr"))
      .orderBy(col("threshold").desc)
  }

  lazy val q139Sql: String =
    s"""WITH preds AS (${TextOps.q38SqlNoOrder}),
       |sc AS (SELECT p.score, CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
       |  FROM preds p JOIN documents d USING (doc_id)),
       |g AS (SELECT score, CAST(SUM(y) AS BIGINT) AS p,
       |    CAST(COUNT(*) - SUM(y) AS BIGINT) AS q
       |  FROM sc GROUP BY score),
       |r AS (SELECT score,
       |    CAST(SUM(p) OVER w AS BIGINT) AS cum_tp,
       |    CAST(SUM(q) OVER w AS BIGINT) AS cum_fp
       |  FROM g WINDOW w AS (ORDER BY score DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |tot AS (SELECT CAST(SUM(p) AS BIGINT) AS n_pos,
       |  CAST(SUM(q) AS BIGINT) AS n_neg FROM g)
       |SELECT score AS threshold, cum_tp, cum_fp,
       |  ${Num.ratio6Sql("cum_tp", "n_pos")} AS tpr,
       |  ${Num.ratio6Sql("cum_fp", "n_neg")} AS fpr
       |FROM r CROSS JOIN tot
       |ORDER BY threshold DESC""".stripMargin

  // --- 140. Zipf slope of the vocabulary ----------------------------------
  /** OLS fit of ln(frequency) against ln(rank) over the top-K vocabulary —
    * the corpus-sanity gate (natural text slopes ≈ −1; generated /
    * templated corpora drift). K = 256 is a CONSTANT: the corpus
    * collapses to token counts (one map-side-combined aggregate), the
    * top-K is TakeOrderedAndProject (per-partition heaps — no vocab
    * sort), and the rank window rides the ≤K-row limited relation. Per
    * q90's log-lattice rule, ln quantizes to integer micros immediately;
    * the regression's normal equations then fold in one exact
    * DECIMAL(38,0) aggregate — slope = (K·Σxy − ΣxΣy)/(K·Σx² − (Σx)²),
    * intercept = (Σy·den − num·Σx)/(K·den), both surfaced half-away at
    * 1e-6. Hash-identical cross-engine (DuckDB promotes via HUGEINT).
    * K caps at the vocabulary when smaller — the synthetic test corpus
    * has 31 distinct tokens and fits near-flat (slope ≈ −0.18): it IS
    * the templated-corpus case this gate exists to flag. */
  def q140(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val K = 256
    val top = TextOps.docsWithToks(s, dir)
      .select(explode(col("toks")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token")).limit(K)
    val lat = top
      .withColumn("rank",
        row_number().over(Window.orderBy(col("n").desc, col("token"))))
      .select(
        round(log(col("rank").cast("double")) * 1000000L, 0).cast("long").as("x"),
        round(log(col("n").cast("double")) * 1000000L, 0).cast("long").as("y"))
    // the normal equations collapse to ONE row; fold it driver-side (the
    // q138 convention) so the degenerate single-distinct-token vocabulary
    // (K = 1 ⇒ x ≡ 0 ⇒ den = 0) fails through a NAMED require instead of
    // an unguarded division (r8 ADVICE)
    val a = lat.agg(
      count(lit(1)).as("k"),
      sum(Num.big(col("x"))).as("sx"),
      sum(Num.big(col("y"))).as("sy"),
      sum(Num.big(col("x")) * Num.big(col("y"))).as("sxy"),
      sum(Num.big(col("x")) * Num.big(col("x"))).as("sxx")).head()
    val k = a.getLong(0)
    require(k >= 2, s"q140: vocabulary has $k distinct token(s) — the Zipf " +
      "OLS needs at least two ranks")
    def bi(i: Int): BigInt =
      if (a.isNullAt(i)) BigInt(0) else BigInt(a.getDecimal(i).toBigInteger)
    val (sx, sy, sxy, sxx) = (bi(1), bi(2), bi(3), bi(4))
    val num = k * sxy - sx * sy
    val den = k * sxx - sx * sx
    require(den != 0,
      "q140: degenerate rank lattice (all top-K ranks collapse) — OLS undefined")
    // ⌊p/q⌉ half-away-from-zero, q > 0 (den > 0 by Cauchy–Schwarz once
    // non-degenerate) — the BigInt replay of Num.idivHalfAwayBig
    def halfAway(p: BigInt, q: BigInt): BigInt =
      if (p >= 0) (p * 2 + q) / (q * 2) else -(((-p) * 2 + q) / (q * 2))
    val slope = halfAway(num * 1000000L, den).toDouble / 1e6
    // sy/sx are already micros, so the quotient is integer micros of
    // ln-frequency — no extra 1e6 scaling (slope's operands are both
    // micro-scaled, so IT needs the multiplier; this one does not)
    val intercept = halfAway(sy * den - num * sx, BigInt(k) * den).toDouble / 1e6
    Seq((k, slope, intercept)).toDF("k", "slope", "intercept")
  }

  val q140Sql: String =
    s"""WITH vc AS (SELECT token, COUNT(*) AS n
       |  FROM (SELECT unnest(${Text.toksSql}) AS token FROM documents) t
       |  GROUP BY token),
       |top AS (SELECT n, token FROM vc ORDER BY n DESC, token LIMIT 256),
       |rk AS (SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, token) AS rank FROM top),
       |lat AS (SELECT
       |    CAST(round(ln(CAST(rank AS DOUBLE)) * 1000000, 0) AS BIGINT) AS x,
       |    CAST(round(ln(CAST(n AS DOUBLE)) * 1000000, 0) AS BIGINT) AS y
       |  FROM rk),
       |a AS (SELECT COUNT(*) AS k, SUM(x) AS sx, SUM(y) AS sy,
       |    SUM(x * y) AS sxy, SUM(x * x) AS sxx FROM lat)
       |SELECT k,
       |  ${Num.idivHalfAwaySql("(k * sxy - sx * sy) * 1000000",
            "k * sxx - sx * sx")} / 1000000.0 AS slope,
       |  ${Num.idivHalfAwaySql(
            "sy * (k * sxx - sx * sx) - (k * sxy - sx * sy) * sx",
            "k * (k * sxx - sx * sx)")} / 1000000.0 AS intercept
       |FROM a""".stripMargin

  // --- 141. PII detection + redaction -------------------------------------
  /** Span-level PII scrub — the redaction gate every shared training
    * corpus passes before release. The corpus has no real PII, so a
    * contact field is synthesized DETERMINISTICALLY from doc fields
    * (the q135/q136 payload-fixture pattern: the plumbing is real, the
    * sensitive data is manufactured); detection + redaction then run as
    * a pure per-row codegen'd regexp pipeline — zero joins, zero
    * shuffles beyond the readout sort, embarrassingly parallel at any
    * corpus size. Patterns are dialect-neutral (no lookaround /
    * backrefs), so Java regex (Spark) and RE2 (DuckDB) match
    * identically; counts are taken on the raw field, redaction replaces
    * email → IP → phone in a fixed order on both engines. */
  def q141(s: SparkSession, dir: String): DataFrame = {
    val Email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,4}"
    val Phone = "555-[0-9]{4}"
    val Ip = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
    val contact = concat(
      lit("user"), col("doc_id").cast("string"),
      lit("@"), col("source"), lit(".org call 555-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
      lit(" from 10."), (col("doc_id") % 256).cast("string"),
      lit("."), (expr("doc_id div 256") % 256).cast("string"),
      lit(".7 "), substring(col("text"), 1, 40))
    Tables.documents(s, dir)
      .select(col("doc_id"), contact.as("contact"))
      .select(col("doc_id"),
        size(regexp_extract_all(col("contact"), lit(Email), lit(0)))
          .cast("long").as("n_email"),
        size(regexp_extract_all(col("contact"), lit(Phone), lit(0)))
          .cast("long").as("n_phone"),
        size(regexp_extract_all(col("contact"), lit(Ip), lit(0)))
          .cast("long").as("n_ip"),
        regexp_replace(
          regexp_replace(
            regexp_replace(col("contact"), Email, "<EMAIL>"),
            Ip, "<IP>"),
          Phone, "<PHONE>").as("redacted"))
      .orderBy(col("doc_id"))
  }

  val q141Sql: String = {
    val email = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,4}"""
    val phone = "555-[0-9]{4}"
    val ip = """[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"""
    s"""WITH c AS (SELECT doc_id,
       |  'user' || CAST(doc_id AS VARCHAR) || '@' || source || '.org call 555-' ||
       |  lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
       |  ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.' ||
       |  CAST((doc_id // 256) % 256 AS VARCHAR) || '.7 ' ||
       |  substr(text, 1, 40) AS contact
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(contact, '$email')) AS BIGINT) AS n_email,
       |  CAST(len(regexp_extract_all(contact, '$phone')) AS BIGINT) AS n_phone,
       |  CAST(len(regexp_extract_all(contact, '$ip')) AS BIGINT) AS n_ip,
       |  regexp_replace(regexp_replace(regexp_replace(contact,
       |    '$email', '<EMAIL>', 'g'), '$ip', '<IP>', 'g'), '$phone', '<PHONE>', 'g')
       |    AS redacted
       |FROM c
       |ORDER BY doc_id""".stripMargin
  }

  // --- 142. robust length-outlier gate (median + MAD) ---------------------
  /** Flags documents whose length deviates from the corpus median by more
    * than 2× the median absolute deviation — the robust outlier gate
    * (mean/stddev gates move with the outliers they hunt; the median/MAD
    * pair does not). BOTH medians fold driver-side over ONE map-side-
    * combined length HISTOGRAM when the length domain is fold-sized
    * (≤ 65536 distinct lengths — r9; the dev histogram is a pure
    * function of the length histogram, so the MAD needs no second
    * corpus pass), falling back to the r8 driver-adaptive
    * [[graft.functions.OrderStats.keysAtRanks]] path on wider domains.
    * All comparisons stay in INTEGER units (doubled: med2 = v⌈n/2⌉ +
    * v⌊n/2+1⌋, dev = |2ℓ − med2| = 2|ℓ − med|, mad4 = dev⌈n/2⌉ +
    * dev⌊n/2+1⌋ = 4·MAD), so the half-sample median never touches a
    * float: the flag condition |ℓ−med| > 2·MAD is exactly dev > mad4
    * (the 2s cancel). The 2× multiplier (vs the textbook 3×) is the
    * aggressive-screen setting — it is the knob a production gate
    * exposes. Two corpus-linear jobs on the fast path (histogram +
    * final filter); output columns surface the exact
    * .5/.25-representable doubles. */
  def q142(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("n_chars"))
    // r9 fast path: n_chars is a SMALL-INTEGER domain, so the corpus
    // collapses to ONE map-side-combined length histogram; both medians
    // then fold driver-side over the sorted histogram in exact int64 —
    // the dev histogram is a pure FUNCTION of the length histogram
    // (dev = |2ℓ − med2|), so the MAD needs NO second corpus pass. Two
    // corpus-linear jobs total (histogram + final filter) instead of
    // five driver-adaptive rank-resolution rounds (bench: 0.34 → ~0.1 s;
    // the headline's worst fixed-floor cell). Domain guard: a corpus
    // whose distinct-length count exceeds the fold bound falls back to
    // the r8 OrderStats path — adaptive, corpus-sort-free, any domain.
    val HistCap = 65536
    val hist = docs.groupBy(col("n_chars")).agg(count(lit(1)).as("cnt"))
      .limit(HistCap + 1).collect()
    val (med2, mad4) =
      if (hist.length <= HistCap && hist.nonEmpty) {
        val h = hist.map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
        val n = h.iterator.map(_._2).sum
        require(n > 0, "q142: empty corpus")
        val (r1, r2) = ((n + 1) / 2, (n + 2) / 2)
        // value at rank via cumulative counts over the sorted histogram
        def atRanks(sorted: Array[(Long, Long)]): Long = {
          var cum = 0L; var v1 = -1L; var v2 = -1L
          sorted.foreach { case (v, c) =>
            val lo = cum + 1; cum += c
            if (v1 < 0 && r1 >= lo && r1 <= cum) v1 = v
            if (v2 < 0 && r2 >= lo && r2 <= cum) v2 = v
          }
          v1 + v2
        }
        val m2 = atRanks(h)
        val dev = h.groupBy { case (v, _) => math.abs(2 * v - m2) }
          .map { case (d, g) => d -> g.iterator.map(_._2).sum }
          .toArray.sortBy(_._1)
        (m2, atRanks(dev))
      } else {
        // fallback: the r8 driver-adaptive OrderStats path
        val base = docs.select(col("n_chars").cast("double").as("v"),
          col("doc_id").as("id"))
        val g0 = base.agg(count(lit(1)), min(col("v")), max(col("v")),
          min(col("id")), max(col("id"))).head()
        val n = g0.getLong(0)
        require(n > 0, "q142: empty corpus")
        val targets = Seq((1L, (n + 1) / 2), (2L, (n + 2) / 2)).toDF("idx", "t")
        def medDoubled(df: DataFrame,
            preGlob: Option[(Long, Double, Double, Long, Long)]): Long = {
          val vs = graft.functions.OrderStats
            .keysAtRanks(df, targets, preGlob = preGlob)
            .select(col("v")).collect().map(_.getDouble(0))
          require(vs.length == 2,
            s"q142: rank resolution returned ${vs.length} rows")
          (vs(0) + vs(1)).toLong
        }
        val m2 = medDoubled(base,
          Some((n, g0.getDouble(1), g0.getDouble(2), g0.getLong(3), g0.getLong(4))))
        val m4 = medDoubled(docs.select(
          abs(col("n_chars") * 2 - lit(m2)).cast("double").as("v"),
          col("doc_id").as("id")), None)
        (m2, m4)
      }
    val devCol = abs(col("n_chars") * 2 - lit(med2))
    docs
      .select(col("doc_id"), col("n_chars"),
        lit(med2 / 2.0).as("median"), lit(mad4 / 4.0).as("mad"),
        (devCol / 2.0).as("deviation"))
      .filter(devCol > lit(mad4))
      .orderBy(col("doc_id"))
  }

  val q142Sql: String =
    s"""WITH d AS (SELECT doc_id, n_chars FROM documents),
       |tot AS (SELECT COUNT(*) AS n FROM d),
       |rk AS (SELECT n_chars,
       |    ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS r FROM d),
       |m1 AS (SELECT CAST(SUM(
       |    (CASE WHEN r = (n + 1) // 2 THEN n_chars ELSE 0 END) +
       |    (CASE WHEN r = (n + 2) // 2 THEN n_chars ELSE 0 END)) AS BIGINT) AS med2
       |  FROM rk CROSS JOIN tot),
       |dv AS (SELECT doc_id, n_chars, med2,
       |    abs(2 * n_chars - med2) AS dev FROM d CROSS JOIN m1),
       |rk2 AS (SELECT dev, ROW_NUMBER() OVER (ORDER BY dev, doc_id) AS r FROM dv),
       |m2 AS (SELECT CAST(SUM(
       |    (CASE WHEN r = (n + 1) // 2 THEN dev ELSE 0 END) +
       |    (CASE WHEN r = (n + 2) // 2 THEN dev ELSE 0 END)) AS BIGINT) AS mad4
       |  FROM rk2 CROSS JOIN tot)
       |SELECT doc_id, n_chars, med2 / 2.0 AS median, mad4 / 4.0 AS mad,
       |  dev / 2.0 AS deviation
       |FROM dv CROSS JOIN m2
       |WHERE dev > mad4
       |ORDER BY doc_id""".stripMargin

  def ops: Seq[Op] = Seq(
    Op("q138_cohen_kappa", q138, Some(q138Sql)),
    Op("q139_roc_points", q139, Some(q139Sql)),
    Op("q140_zipf_slope", q140, Some(q140Sql)),
    Op("q141_pii_scrub", q141, Some(q141Sql)),
    Op("q142_mad_outliers", q142, Some(q142Sql)))
}

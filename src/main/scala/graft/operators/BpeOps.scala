package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Op
import graft.text.Text

/** Subword (BPE-style) vocabulary TRAINING — the one tokenizer-side stage
  * the pipeline still lacked (r8 VERDICT missing #1): the engine counts
  * BPE-ish tokens (q46) and truncates vocabularies (q128), but until now
  * could not LEARN a merge table.
  *
  * Algorithm (public literature: Gage 1994 "A New Algorithm for Data
  * Compression"; Sennrich/Haddow/Birch ACL 2016 "Neural Machine
  * Translation of Rare Words with Subword Units"): start from the corpus
  * WORD-COUNT table with each word split into characters; per round,
  * count adjacent symbol pairs weighted by word frequency, merge the most
  * frequent pair everywhere, repeat for a fixed round budget.
  *
  * Scale shape (the q120 iterate-with-driver-fold pattern): the corpus is
  * touched EXACTLY ONCE — the word-count aggregate (map-side combined,
  * vocabulary-sized output, cached). Every round then runs one
  * vocabulary-sized pair aggregate (map-side combined) + a 1-row argmax
  * (TakeOrderedAndProject: per-partition heaps, no vocab sort), and the
  * winning merge is applied as a BROADCAST LITERAL string replace on the
  * vocab relation. Driver state is the merge table itself (≤ rounds
  * rows); at the 100 TB design point the vocab relation is ~10⁷–10⁸ rows
  * — executor-cached, never the corpus.
  *
  * Merge application semantics — chosen to be EXACTLY replayable on any
  * ANSI engine: a word is its symbols joined by single spaces; merging
  * pair "a b" rewrites `' '||w||' '` with leftmost NON-OVERLAPPING literal
  * replace of `' a b '` → `' ab '`. Because a replaced occurrence consumes
  * its trailing separator, an immediately-adjacent occurrence survives the
  * round — and is simply counted and merged in a LATER round (the pair
  * remains in the pool). Both Spark's `replace` and DuckDB's `replace`
  * (and Java's `String.replace`, used by the spec's local replay) share
  * this leftmost-non-overlapping contract, so the whole training run is
  * hash-identical cross-engine — a FULL oracle, not a rows-only check.
  * Ties in the pair count break on the pair string ascending (binary
  * compare on [a-z0-9 ] — identical in both engines).
  *
  * Reference: /root/reference/README.md:1-6 (pointer repo — the paper's
  * pipeline tokenizes with scikit-learn; subword training is the
  * LLM-training-data extension this library adds as a first-class op).
  */
object BpeOps {

  /** Fixed training budget: enough rounds to be a real merge table while
    * keeping the unrolled oracle CTE chain readable. */
  val Rounds = 8

  final case class BpeMerge(round: Int, pair: String, merged: String, n: Long)

  /** Word spaced into single-character symbols: "hello" → "h e l l o". */
  private def spaced(c: org.apache.spark.sql.Column) =
    trim(regexp_replace(c, "(.)", "$1 "))

  /** The ONE corpus pass behind both [[train]] and [[replayVocab]]:
    * word counts, then char-spaced representation.
    * cache() WITHOUT a finally-unpersist (the docsWithToks family
    * pattern): the returned vocab DataFrame is lazy, so an eager
    * unpersist here would force whoever materializes it later (the
    * shared-training memo's localCheckpoint, the spec's collect) to
    * re-run the corpus scan — exactly the second pass the "touched
    * EXACTLY ONCE" contract forbids (r9 review). The family-boundary
    * clearCache owns eviction; repeated calls structurally re-match
    * this same cache entry. */
  private def wordCounts(s: SparkSession, dir: String): DataFrame =
    wordCountsOf(TextOps.docsWithToks(s, dir))

  /** Char-spaced word-count relation of an arbitrary tokenized doc set
    * — the training input ([[wordCounts]] = the whole corpus; q156
    * trains on the TRAIN fold only). */
  private def wordCountsOf(docs: DataFrame): DataFrame =
    docs
      .select(explode(col("toks")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("f"))
      .select(spaced(col("t")).as("w"), col("f"))
      .cache()

  /** One BPE merge applied to a relation's `w` column as a broadcast
    * literal replace (leftmost-non-overlapping — see the object doc);
    * other columns pass through (the training vocab carries `f`, q156's
    * token mapping carries `token`). */
  private def applyMerge(v: DataFrame, pair: String): DataFrame = {
    val merged = pair.replace(" ", "")
    v.withColumn("w", trim(replace(concat(lit(" "), col("w"), lit(" ")),
      lit(s" $pair "), lit(s" $merged "))))
  }

  /** Train the merge table; also returns the final (merged) vocab relation
    * so the spec can pin re-tokenization. The registered op surfaces only
    * the merge table (the model artifact a tokenizer ships). At the
    * default [[Rounds]] this is the snapshot's one training run (the
    * [[trainShared]] memo: its merges and `bpe_vocab`); another round
    * budget trains afresh. */
  def train(s: SparkSession, dir: String, rounds: Int = Rounds)
      : (Seq[BpeMerge], DataFrame) =
    if (rounds != Rounds) trainOn(wordCounts(s, dir), rounds)
    else {
      import s.implicits._
      val (merges, vocab) = trainShared(s, dir)
      (merges.as[BpeMerge].collect().sortBy(_.round).toSeq, vocab)
    }

  /** The round loop over an arbitrary char-spaced word-count relation
    * (shared by the corpus trainer, q156's train-fold trainer, and the
    * vocab-size-targeted trainer). `minPairCount` is the no-repeat stop:
    * a best pair seen fewer than that many times ends training (the
    * production rule is 2 — merging a pair that never repeats buys
    * nothing; the fixed-budget trainers keep 1, i.e. no count stop). */
  private def trainOn(v0: DataFrame, rounds: Int, minPairCount: Long = 1L)
      : (Seq[BpeMerge], DataFrame) = {
    var vocab = v0
    val merges = Seq.newBuilder[BpeMerge]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val best = vocab
        .select(explode(Text.shingles(split(col("w"), " "), 2)).as("pair"),
          col("f"))
        .groupBy(col("pair")).agg(sum(col("f")).as("n"))
        .orderBy(col("n").desc, col("pair")).limit(1)
        .collect()
      if (best.isEmpty || best(0).getLong(1) < minPairCount)
        exhausted = true // every word is one symbol / no pair repeats
      else {
        val pair = best(0).getString(0)
        val n = best(0).getLong(1)
        merges += BpeMerge(r, pair, pair.replace(" ", ""), n)
        vocab = applyMerge(vocab, pair)
        r += 1
      }
    }
    (merges.result(), vocab)
  }

  /** One training run, two registered readouts (q144 merge table + q147
    * unit inventory) — the scored38en family-memo treatment
    * ([[graft.Standing]]): whichever consumer fires first trains
    * once per (family run, dir); the sibling key is populated from
    * inside the same build (a nested build of a different key, like
    * q95 → pairs50). At 100 TB a tokenizer release
    * trains once per corpus snapshot and every readout consumes the
    * artifact. */
  private def trainShared(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    var vocabOut: DataFrame = null
    val merges = graft.Standing.relation("bpe_merges", dir) {
      import s.implicits._
      val (ms, vocab) = trainOn(wordCounts(s, dir), Rounds)
      vocabOut = graft.Standing.relation("bpe_vocab", dir)(vocab)
      ms.toDF("round", "pair", "merged", "n")
    }
    val vocab =
      if (vocabOut != null) vocabOut
      // fallback (merge table memoized, vocab sibling absent — e.g. a
      // prior build interrupted between the nested and outer inserts):
      // REPLAY the shipped merges over a fresh word-count relation —
      // one corpus pass, zero pair-aggregate/argmax rounds — instead of
      // silently re-TRAINING (r9 ADVICE: the retrain quietly violated
      // the 'trains once per family run' contract).
      else graft.Standing.relation("bpe_vocab", dir)(
        replayVocab(s, dir, merges))
    (merges, vocab)
  }

  /** Rebuild the final vocab relation by re-APPLYING an already-trained
    * merge table in round order: the merges are the model artifact, so
    * this is deterministic application, not training. Merge table is
    * ≤ [[Rounds]] rows by construction — driver-sized by contract. */
  private def replayVocab(s: SparkSession, dir: String,
      merges: DataFrame): DataFrame = {
    val ms = merges.select(col("round"), col("pair")).collect()
      .map(r => (r.getInt(0), r.getString(1))).sortBy(_._1)
    ms.foldLeft(wordCounts(s, dir)) { case (v, (_, pair)) =>
      applyMerge(v, pair)
    }
  }

  // --- 144. BPE merge-table training --------------------------------------
  def q144(s: SparkSession, dir: String): DataFrame =
    trainShared(s, dir)._1.orderBy(col("round"))

  /** The unrolled training chain `v0..v[[Rounds]]` (+ per-round pN/mN)
    * over the `documents` rows matching `where` (empty = whole corpus)
    * — ONE builder behind q144/q147/q151/q152's full-corpus oracles and
    * q156's train-fold one (replacing the r9 substring extraction: a
    * parameterized builder can't drift from its readouts). */
  private def chainCtes(where: String, afterInit: String = "",
      mergeCond: Int => String = _ => ""): String = {
    val init =
      s"""v0 AS (SELECT array_to_string([t[i] FOR i IN range(1, len(t)+1)], ' ') AS w, f
         |  FROM (SELECT token AS t, CAST(COUNT(*) AS BIGINT) AS f
         |    FROM (SELECT unnest(${Text.toksSql}) AS token FROM documents$where)
         |    GROUP BY token))""".stripMargin
    // v$r LEFT-joins its round's (0-or-1-row) merge so an EXHAUSTED pool
    // (m$r empty — every word one symbol, or the vocab-target/no-repeat
    // stop via `mergeCond`) passes the vocab through unchanged; the r8
    // CROSS JOIN form emptied v$r and every later round with it,
    // silently zeroing the q147 replay on early-exhaust corpora (r9
    // review finding, DuckDB-reproduced). The engine's early-stop loop
    // has the same pass-through semantics.
    val rounds = (1 to Rounds).map { r =>
      s"""p$r AS (SELECT pair, CAST(SUM(f) AS BIGINT) AS n FROM (
         |  SELECT unnest([l[i] || ' ' || l[i+1] FOR i IN range(1, len(l))]) AS pair, f
         |  FROM (SELECT string_split(w, ' ') AS l, f FROM v${r - 1})) GROUP BY pair),
         |m$r AS (SELECT pair, n FROM p$r${mergeCond(r)} ORDER BY n DESC, pair LIMIT 1),
         |v$r AS (SELECT CASE WHEN m.pair IS NULL THEN w
         |    ELSE trim(replace(' ' || w || ' ', ' ' || m.pair || ' ',
         |      ' ' || replace(m.pair, ' ', '') || ' ')) END AS w, f
         |  FROM v${r - 1} LEFT JOIN m$r m ON TRUE)""".stripMargin
    }
    s"$init$afterInit,\n${rounds.mkString(",\n")}"
  }

  /** The q144 chain's CTE prefix (everything before the merge-table
    * readout) — the composition point q147Sql/q151Sql build on. */
  private lazy val q144Chain: String = "WITH " + chainCtes("")

  /** The full training run replayed as one unrolled CTE chain (merge
    * choices are data-dependent, so the oracle must COMPUTE them — each
    * round is a pair aggregate + argmax + literal replace, exactly the
    * Spark plan's semantics). */
  val q144Sql: String = {
    val sel = (1 to Rounds)
      .map(r => s"SELECT $r AS round, pair, replace(pair, ' ', '') AS merged, n FROM m$r")
      .mkString("\nUNION ALL\n")
    s"$q144Chain\n$sel\nORDER BY round"
  }

  /** Local (driver/spec-side) replay of the merge application: tokenize a
    * word into characters, apply the learned merges in training order
    * with the SAME leftmost-non-overlapping contract (Java
    * `String.replace` shares it), return the final symbol sequence. This
    * is how a consumer re-tokenizes text with the shipped merge table. */
  def applyMerges(token: String, merges: Seq[BpeMerge]): Seq[String] = {
    var w = token.toCharArray.mkString(" ")
    merges.sortBy(_.round).foreach { m =>
      w = (" " + w + " ").replace(" " + m.pair + " ", " " + m.merged + " ").trim
    }
    if (w.isEmpty) Seq.empty else w.split(" ").toSeq
  }

  // --- 147. BPE application: corpus subword-unit counts --------------------
  /** The trained merge table APPLIED back to the corpus — the unit
    * inventory a tokenizer ships with its merges (and the readout that
    * tells you whether the merge budget was enough: mass still sitting on
    * single characters means more rounds). Zero extra corpus passes: the
    * final vocab relation already carries (merged word form, corpus
    * frequency), so unit counts are one vocab-sized explode + aggregate.
    * Same full oracle as q144 — the unrolled chain's final vocab CTE,
    * split and unnested. */
  def q147(s: SparkSession, dir: String): DataFrame =
    trainShared(s, dir)._2
      .select(explode(split(col("w"), " ")).as("unit"), col("f"))
      .groupBy(col("unit")).agg(sum(col("f")).as("n"))
      .orderBy(col("n").desc, col("unit"))

  val q147Sql: String = {
    s"""$q144Chain
       |SELECT unit, CAST(SUM(f) AS BIGINT) AS n
       |FROM (SELECT unnest(string_split(w, ' ')) AS unit, f FROM v$Rounds)
       |GROUP BY unit
       |ORDER BY n DESC, unit""".stripMargin
  }

  /** (token → subword unit count) mapping derived from the final vocab
    * relation — the merged form is space-free-injective, so
    * `token = replace(w, ' ', '')` recovers the key (see [[q151]]).
    * Shared by q151's segmentation readout and q152's packing mass. */
  private def unitMapping(s: SparkSession, dir: String): DataFrame =
    trainShared(s, dir)._2
      .select(replace(col("w"), lit(" "), lit("")).as("token"),
        size(split(col("w"), " ")).cast("long").as("units"))

  /** Per-document subword unit counts under the trained tokenizer —
    * the packing mass q152 budgets shards by (r9 VERDICT #1). Same one
    * corpus pass + mapping join as [[q151]], without the segmentation
    * readout's extra aggregates. */
  /** Per-doc unit totals under the trained merges — memoized (r15):
    * THIN (one int64 per doc) but derived through a corpus token
    * explode + mapping join per reference, and three consumers read it
    * (the q152 build, q181's fertility gate, q184's repeat planner) —
    * the docsWithToks treatment one step downstream. */
  def docUnits(s: SparkSession, dir: String): DataFrame =
    graft.Standing.relation("doc_units", dir)(
      TextOps.docsWithToks(s, dir)
        .select(col("doc_id"), explode(col("toks")).as("token"))
        .join(unitMapping(s, dir), "token")
        .groupBy(col("doc_id"))
        .agg(sum(col("units")).as("n_units")))

  /** The q144 training chain's CTE list WITHOUT the leading WITH — the
    * composition form q152's oracle splices under the q120 chain's
    * existing `WITH RECURSIVE` scope (no name collisions: this chain
    * owns v0..v[[Rounds]] plus the per-round pN/mN CTEs; the pipeline
    * chains own the rest — checked when either side adds a CTE). */
  private[operators] lazy val chainCtesSql: String =
    q144Chain.stripPrefix("WITH ")

  /** `bpemap`/`bpeun` CTEs over the spliced chain: token → unit count
    * under the trained merges, then per-doc unit totals — the SQL twin
    * of [[docUnits]]. */
  private[operators] lazy val docUnitsCtesSql: String =
    s"""bpemap AS (SELECT replace(w, ' ', '') AS token,
       |  CAST(len(string_split(w, ' ')) AS BIGINT) AS units FROM v$Rounds),
       |bpeun AS (SELECT doc_id, CAST(SUM(units) AS BIGINT) AS n_units
       |  FROM (SELECT doc_id, unnest(${Text.toksSql}) AS token FROM documents) _bt
       |  JOIN bpemap USING (token)
       |  GROUP BY doc_id)""".stripMargin

  // --- 151. corpus segmentation with the trained tokenizer ----------------
  /** The full tokenize-with-the-trained-tokenizer pass — per document:
    * word-token count, SUBWORD unit count under the learned merges, and
    * the fertility ratio (units per character; the readout that tells
    * you how hard the tokenizer works on each doc — OOV-ish docs
    * segment into near-character units, in-domain text into whole
    * words). Implementation joins the corpus tokens against the
    * (token → merged form) mapping derived from the final vocab
    * relation — the merged form is space-free-injective, so
    * `token = replace(w, ' ', '')` recovers the key on BOTH engines and
    * neither side needs to thread the token through the training chain.
    * No broadcast HINT on the mapping (r9 review): the vocab is
    * ~10⁷–10⁸ rows at the design point — past Spark's broadcast limits —
    * so AQE owns the strategy (it broadcasts while the mapping is small,
    * shuffle-joins on token beyond that; the corpus side shuffles at
    * most once either way). One corpus pass; FULL oracle (the q144
    * chain's final vocab CTE as the mapping). */
  /** The per-doc segmentation readout over (doc_id, token) rows and a
    * (token → units) mapping — ONE aggregate definition behind q151 and
    * the streaming serve path ([[graft.streaming.StreamOps
    * .segmentServe]]), so stream ≡ batch holds by construction, not
    * just by the spec (r10 review). */
  private[graft] def segmentReadout(toks: DataFrame,
      mapping: DataFrame): DataFrame =
    toks.join(mapping, "token")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("units")).as("n_units"),
        sum(length(col("token"))).as("n_chars"))
      .withColumn("fertility",
        graft.functions.Num.ratio6(col("n_units"), col("n_chars")))
      .orderBy(col("doc_id"))

  def q151(s: SparkSession, dir: String): DataFrame =
    segmentReadout(
      TextOps.docsWithToks(s, dir)
        .select(col("doc_id"), explode(col("toks")).as("token")),
      unitMapping(s, dir))

  val q151Sql: String = {
    s"""$q144Chain,
       |mapping AS (SELECT replace(w, ' ', '') AS token,
       |  CAST(len(string_split(w, ' ')) AS BIGINT) AS units FROM v$Rounds)
       |SELECT doc_id, COUNT(*) AS n_tokens,
       |  CAST(SUM(units) AS BIGINT) AS n_units,
       |  CAST(SUM(len(token)) AS BIGINT) AS n_chars,
       |  ${graft.functions.Num.ratio6Sql("SUM(units)", "SUM(len(token))")}
       |    AS fertility
       |FROM (SELECT doc_id, unnest(${Text.toksSql}) AS token FROM documents) t
       |JOIN mapping USING (token)
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin
  }

  /** (token → unit count) mapping for an arbitrary `token`-column
    * relation under a SHIPPED merge table, by replaying the merges in
    * round order over the char-spaced form (the BpeSpec-proven
    * evolution equivalence — q156's rule). Unlike [[unitMapping]] (which
    * reads the training run's final vocab), this works for tokens the
    * trainer never saw — the serving seam's requirement
    * ([[graft.streaming.StreamOps.segmentServe]]). */
  private[graft] def unitMappingOf(tokens: DataFrame,
      merges: Seq[BpeMerge]): DataFrame =
    merges.sortBy(_.round)
      .foldLeft(tokens.select(col("token"), spaced(col("token")).as("w"))) {
        (v, m) => applyMerge(v, m.pair)
      }
      .select(col("token"),
        size(split(col("w"), " ")).cast("long").as("units"))

  // --- 156. tokenizer drift monitor (train-fold tokenizer) -----------------
  /** The LEAKAGE-HONEST tokenizer evaluation a production pipeline runs
    * before shipping a merge table: train the BPE merges on the TRAIN
    * fold ONLY (the roster family's doc_id-mod split), re-tokenize BOTH
    * folds with the learned merges, and report per-fold segmentation
    * mass + fertility — rising held-out fertility is the drift signal
    * that the tokenizer's merge inventory no longer matches incoming
    * data (the q124 corpus-drift readout, at the tokenizer layer).
    *
    * Re-tokenization uses the merge-REPLAY rule BpeSpec already proves
    * (applying the merges in round order to a fresh char-spaced word
    * reproduces the training evolution — q147's "learned merges
    * re-tokenize tokens to the engine's final vocab" pin), so held-out
    * words the trainer never saw segment EXACTLY as the shipped
    * tokenizer would segment them: merges fire where they apply,
    * character fallback where they don't.
    *
    * Scale shape: one train-fold training run (the q144 cost over the
    * smaller fold, memoized per family run), then the mapping is a
    * DISTINCT-token-sized relation through [[Rounds]] broadcast-literal
    * replaces, and the readout is one corpus-pass join + a 2-row fold
    * aggregate. FULL oracle: the train-fold chain ([[chainCtes]] with
    * the fold predicate) + an unrolled replay of the merges over the
    * distinct-token relation + the fold aggregate. */
  def q156(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Num
    // train-fold merges, one training run per family run (the memo
    // holds the ≤Rounds-row merge table, not the corpus)
    val mergesDf = graft.Standing.relation("bpe156_merges", dir) {
      import s.implicits._
      trainOn(wordCountsOf(TextOps.docsWithToks(s, dir)
        .filter(pmod(col("doc_id"), lit(5)) =!= 0)), Rounds)
        ._1.toDF("round", "pair", "merged", "n")
    }
    val ms = mergesDf.collect().map(r =>
      BpeMerge(r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    val mapping = unitMappingOf(
      TextOps.docsWithToks(s, dir)
        .select(explode(col("toks")).as("token")).distinct(),
      ms.toSeq)
    TextOps.docsWithToks(s, dir)
      .select(col("doc_id"), (pmod(col("doc_id"), lit(5)) =!= 0).as("is_train"),
        explode(col("toks")).as("token"))
      .join(mapping, "token")
      .groupBy(col("is_train"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_tokens"),
        sum(col("units")).as("n_units"),
        sum(length(col("token"))).as("n_chars"))
      .select(when(col("is_train"), "train").otherwise("heldout").as("fold"),
        col("n_docs"), col("n_tokens"), col("n_units"), col("n_chars"),
        Num.ratio6(col("n_units"), col("n_chars")).as("fertility"))
      .orderBy(col("fold"))
  }

  val q156Sql: String = {
    val applyRounds = (1 to Rounds).map { r =>
      s"""s$r AS (SELECT token, CASE WHEN m.pair IS NULL THEN w
         |    ELSE trim(replace(' ' || w || ' ', ' ' || m.pair || ' ',
         |      ' ' || replace(m.pair, ' ', '') || ' ')) END AS w
         |  FROM s${r - 1} LEFT JOIN m$r m ON TRUE)""".stripMargin
    }.mkString(",\n")
    // ((x % 5) + 5) % 5 IS pmod: the Scala fold predicate uses
    // pmod(doc_id, 5), and plain SQL % keeps the sign for negative ids
    // (r10 ADVICE) — the double-mod form agrees with pmod for ALL ids,
    // so a negative-id corpus can't silently hash-mismatch
    s"""WITH ${chainCtes(" WHERE ((doc_id % 5) + 5) % 5 <> 0")},
       |s0 AS (SELECT DISTINCT token,
       |    array_to_string([token[i] FOR i IN range(1, len(token)+1)], ' ') AS w
       |  FROM (SELECT unnest(${Text.toksSql}) AS token FROM documents)),
       |$applyRounds,
       |map156 AS (SELECT token,
       |  CAST(len(string_split(w, ' ')) AS BIGINT) AS units FROM s$Rounds),
       |folds AS (
       |  SELECT (((doc_id % 5) + 5) % 5 <> 0) AS is_train,
       |    COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_tokens,
       |    CAST(SUM(units) AS BIGINT) AS n_units,
       |    CAST(SUM(len(token)) AS BIGINT) AS n_chars
       |  FROM (SELECT doc_id, unnest(${Text.toksSql}) AS token FROM documents) t
       |  JOIN map156 USING (token)
       |  GROUP BY 1)
       |SELECT CASE WHEN is_train THEN 'train' ELSE 'heldout' END AS fold,
       |  n_docs, n_tokens, n_units, n_chars,
       |  ${graft.functions.Num.ratio6Sql("n_units", "n_chars")} AS fertility
       |FROM folds
       |ORDER BY fold""".stripMargin
  }

  // --- 157. context chunks in TOKENIZER units (r10) ------------------------
  /** q129's context chunker re-budgeted in the units a model actually
    * consumes: a context length is a SUBWORD budget, not a word count —
    * a doc full of long/rare words fills a context window with far
    * fewer whitespace tokens. Per doc: tokens in order, each priced by
    * the trained tokenizer ([[unitMapping]] — zero extra training), and
    * assigned to the chunk where its running unit total STARTS (the
    * q83/q152 start-offset rule applied WITHIN the doc, so chunks are
    * contiguous, non-overlapping, and every chunk but the last starts
    * under budget). Output: one row per (doc, chunk) with positions,
    * token/unit masses, and the reassembled text.
    *
    * Scale shape: the mapping join is token-keyed (q151's), and the
    * running sum is a doc-keyed window — the one shuffle context
    * chunking inherently needs (tokens must serialize per doc), never
    * a global window. Chunk text reassembles via the array_sort-of-
    * (pos, token)-structs pattern (collect_list order is
    * nondeterministic). FULL oracle: the training chain + mapping +
    * the same per-doc cumulative window. */
  val ChunkUnitBudget = 64L

  /** The per-doc chunking aggregate over (doc_id, pos, token) rows and a
    * (token → units) mapping — ONE definition behind q157's batch
    * chunker and the streaming serve path ([[graft.streaming.StreamOps
    * .chunkServe]]), the [[segmentReadout]] rule applied to chunking:
    * stream ≡ batch holds by construction, not just by the spec. */
  private[graft] def chunkReadout(toks: DataFrame,
      mapping: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    toks.join(mapping, "token")
      .withColumn("cum", sum(col("units")).over(w))
      .withColumn("chunk_id",
        expr(s"(cum - units) div ${ChunkUnitBudget}L"))
      .groupBy(col("doc_id"), col("chunk_id"))
      .agg(min(col("pos")).as("start_pos"), max(col("pos")).as("end_pos"),
        count(lit(1)).as("n_tokens"), sum(col("units")).as("n_units"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("token")))),
          f => f.getField("token")), " ").as("text_chunk"))
  }

  /** The full corpus chunk relation under the trained tokenizer —
    * positions, masses, AND the reassembled text. NOT memoized: the
    * text column makes it corpus-sized, which would break the
    * Standing sizing contract (entries ≪ corpus — r11 review);
    * q157 re-derives it per call (one corpus pass + the doc-keyed
    * window), the pack consumers read the thin [[chunkMasses]] memo. */
  private def corpusChunks(s: SparkSession, dir: String): DataFrame = {
    val toks = TextOps.docsWithToks(s, dir)
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("pos0", "token")))
      .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"),
        col("token"))
    chunkReadout(toks, unitMapping(s, dir))
  }

  /** The chunk MASSES (doc_id, chunk_id, n_tokens, n_units — three
    * int64s per chunk, the memo-safe projection) for the sequence-pack
    * consumers (q158's pack, q159's manifest via the pack memo);
    * memoized per (family run, dir) — the tfidf_feats treatment. */
  private[graft] def chunkMasses(s: SparkSession, dir: String): DataFrame =
    graft.Standing.relation("bpe_chunks", dir) {
      corpusChunks(s, dir)
        .select(col("doc_id"), col("chunk_id"), col("n_tokens"),
          col("n_units"))
    }

  def q157(s: SparkSession, dir: String): DataFrame =
    corpusChunks(s, dir).orderBy(col("doc_id"), col("chunk_id"))

  /** The chunk relation as spliceable CTEs (fresh c-prefixed names —
    * no collisions with the q120 pipeline chains or [[chainCtesSql]]),
    * ending in `chunks(doc_id, chunk_id, start_pos, end_pos, n_tokens,
    * n_units, text_chunk)` — ONE builder behind [[q157Sql]] and the
    * q158/q159 sequence-pack oracles, so the chunking rule cannot
    * drift between the readout and its pack. */
  /** The tokenized-docs CTE body alone — shared by [[chunkCtesSql]] and
    * the amortized-baseline rewrite (which must rebind `ctt` after
    * collapsing the chunk chain to its standing table). */
  private[operators] lazy val cttCteSql: String =
    s"""ctt AS (SELECT doc_id, toks, len(toks) AS n
       |  FROM (SELECT doc_id, ${Text.toksSql} AS toks FROM documents)
       |  WHERE len(toks) > 0)""".stripMargin

  private[operators] lazy val chunkCtesSql: String =
    s"""cmap AS (SELECT replace(w, ' ', '') AS token,
       |  CAST(len(string_split(w, ' ')) AS BIGINT) AS units FROM v$Rounds),
       |$cttCteSql,
       |ctk AS (SELECT doc_id, CAST(u.pos AS BIGINT) AS pos, toks[u.pos] AS token
       |  FROM ctt, unnest(generate_series(1, n)) AS u(pos)),
       |ccu AS (SELECT doc_id, pos, token, units,
       |    CAST(SUM(units) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
       |  FROM ctk JOIN cmap USING (token)),
       |chunks AS (
       |  SELECT doc_id, CAST((cum - units) // $ChunkUnitBudget AS BIGINT) AS chunk_id,
       |    MIN(pos) AS start_pos, MAX(pos) AS end_pos,
       |    COUNT(*) AS n_tokens, CAST(SUM(units) AS BIGINT) AS n_units,
       |    string_agg(token, ' ' ORDER BY pos) AS text_chunk
       |  FROM ccu GROUP BY doc_id, chunk_id)""".stripMargin

  val q157Sql: String =
    s"""$q144Chain,
       |$chunkCtesSql
       |SELECT doc_id, chunk_id, start_pos, end_pos, n_tokens, n_units,
       |  text_chunk
       |FROM chunks
       |ORDER BY doc_id, chunk_id""".stripMargin

  // --- restartable training: snapshot + resume (r10 VERDICT #4) -----------
  /** Resume training from a persisted merge-table SNAPSHOT for
    * `extraRounds` more rounds — bit-identical to an uninterrupted
    * `train(rounds + extraRounds)` on the same corpus (the pagerankFrom
    * resume contract, applied to the tokenizer trainer: a 100 TB
    * tokenizer train is exactly the job that gets preempted). The
    * snapshot is the merge table itself (≤ rounds rows — the artifact a
    * checkpoint would persist); resume re-APPLIES it in round order over
    * a fresh word-count relation (one corpus pass, deterministic
    * replay, zero pair-aggregate rounds — the [[replayVocab]] rule) and
    * the round loop continues where the snapshot stopped. Equivalence
    * is structural: after replaying rounds 1..k, the vocab relation is
    * value-identical to the uninterrupted trainer's state entering
    * round k+1, and each subsequent argmax reads only that state
    * (BpeSpec pins byte-equal merge tables and vocab). */
  def trainFrom(s: SparkSession, dir: String, snapshot: Seq[BpeMerge],
      extraRounds: Int): (Seq[BpeMerge], DataFrame) = {
    val done = snapshot.sortBy(_.round)
    require(done.map(_.round) == (1 to done.size),
      s"trainFrom: snapshot rounds must be contiguous from 1, got " +
        done.map(_.round).mkString("[", ",", "]"))
    val resumedVocab = done.foldLeft(wordCounts(s, dir)) { (v, m) =>
      applyMerge(v, m.pair)
    }
    val (more, vocab) = trainOn(resumedVocab, extraRounds)
    (done ++ more.map(m => m.copy(round = m.round + done.size)), vocab)
  }

  // --- 163. vocab-size-TARGETED training (r11 VERDICT #4) ------------------
  /** Production tokenizers train to a vocabulary SIZE, not a round
    * budget: stop when |vocab| reaches V or no pair repeats. Here
    * |vocab| = base symbol inventory (distinct characters across the
    * corpus token vocabulary) + one entry per merge — each round adds
    * one row to the shipped merge table, the artifact whose size a
    * release budgets. (The leftmost-non-overlapping replace lets an
    * adjacent-survivor pair win twice across rounds; both wins are
    * real merge-table rows, so both count against V — the merge TABLE
    * is what ships.) The no-repeat stop is `minPairCount = 2`: merging
    * a pair seen once buys no compression.
    *
    * So round r fires iff base + (r−1) < V AND best-pair count ≥ 2 —
    * both conditions are pure functions of the training state, which
    * keeps the whole stop rule inside the unrolled oracle chain: m\$r
    * gains `CROSS JOIN vbase WHERE n >= 2 AND vbase.b + (r−1) < V`,
    * and a stopped round's empty merge CTE passes the vocab through
    * (the q147 exhaustion shape already in the chain). The no-repeat
    * stop is ABSORBING (no merge ⇒ same pairs ⇒ still no repeat), so
    * the two engines cannot disagree about which rounds fired.
    *
    * Scale shape: [[trainToVocab]] is [[train]]'s — one corpus pass for
    * the word counts + one extra vocabulary-sized distinct-symbol
    * aggregate for the base inventory, then ≤ min(maxRounds, V − base)
    * vocabulary-sized rounds; the registered [[q163]] pays only the
    * base-inventory aggregate over the snapshot's trained table. */
  val TargetVocab = 29

  /** Train until the merge inventory would push |vocab| past
    * `targetVocab` or no pair repeats; `maxRounds` caps the unrolled
    * oracle chain (and any runaway target). */
  def trainToVocab(s: SparkSession, dir: String, targetVocab: Int,
      maxRounds: Int = Rounds): (Seq[BpeMerge], DataFrame) =
    trainToVocabOn(wordCounts(s, dir), targetVocab, maxRounds)

  private[graft] def trainToVocabOn(v0: DataFrame, targetVocab: Int,
      maxRounds: Int): (Seq[BpeMerge], DataFrame) =
    trainOn(v0, vocabBudget(v0, targetVocab, maxRounds), minPairCount = 2L)

  /** The rounds `targetVocab` leaves past the base symbol inventory of
    * `v0` (one distinct-symbol aggregate), capped at `maxRounds`. */
  private def vocabBudget(v0: DataFrame, targetVocab: Int, maxRounds: Int): Int = {
    val base = v0.select(explode(split(col("w"), " ")).as("sym"))
      .agg(countDistinct(col("sym"))).head().getLong(0)
    math.max(0L, targetVocab - base).min(maxRounds.toLong).toInt
  }

  /** The budgeted run is a PREFIX of the snapshot's one [[Rounds]]-round
    * training run: both trainers see the same vocab state each round and
    * pick the same argmax, so stopping at the budget or at the first
    * non-repeating pair truncates the memoized merge table (BpeSpec pins
    * it against a fresh [[trainToVocab]] run) — one base-inventory job
    * instead of a second training run. */
  def q163(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val budget = vocabBudget(wordCounts(s, dir), TargetVocab, Rounds)
    train(s, dir)._1.take(budget).takeWhile(_.n >= 2)
      .toDF("round", "pair", "merged", "n")
      .orderBy(col("round"))
  }

  val q163Sql: String = {
    val chain = chainCtes("",
      afterInit = s""",
         |vbase AS (SELECT COUNT(DISTINCT sym) AS b FROM (
         |  SELECT unnest(string_split(w, ' ')) AS sym FROM v0) _s)""".stripMargin,
      mergeCond = r =>
        s" CROSS JOIN vbase WHERE n >= 2 AND vbase.b + ${r - 1} < $TargetVocab")
    val sel = (1 to Rounds)
      .map(r => s"SELECT $r AS round, pair, replace(pair, ' ', '') AS merged, n FROM m$r")
      .mkString("\nUNION ALL\n")
    s"WITH $chain\n$sel\nORDER BY round"
  }

  // --- 161. RESUMED training as a registered, oracle-checked op -----------
  /** [[trainFrom]] REGISTERED UNDER THE ORACLE (the q154 delta ≡ full
    * pattern): train to a mid-run snapshot (half the budget), resume
    * from it for the rest, surface the resumed merge table — and the
    * oracle is [[q144Sql]], the UNINTERRUPTED run's chain, so the
    * driver's hash compare IS the resume contract (snapshot + resume ≡
    * straight-through, checked per round on every gate run, not just in
    * BpeSpec). Scale shape: the resume's one corpus replay pass + the
    * remaining rounds over the family-cached word-count relation —
    * this op deliberately does NOT read the [[trainShared]] memo
    * (reading the memoized q144 table would make the check vacuous). */
  val SnapshotRound = Rounds / 2

  def q161(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val snapshot = train(s, dir, SnapshotRound)._1
    trainFrom(s, dir, snapshot, Rounds - SnapshotRound)._1
      .toDF("round", "pair", "merged", "n")
      .orderBy(col("round"))
  }

  /** Resume ≡ uninterrupted: the oracle replays the straight 8-round
    * chain; a resumed run that diverged anywhere would hash-mismatch. */
  val q161Sql: String = q144Sql

  // --- 164. PERSISTED tokenizer artifact (r12) -----------------------------
  /** The tokenizer RELEASE artifact: the merge table persisted on disk
    * under a [[graft.GenManifest]] generation (the annIndex/bucketed-
    * index lifecycle applied to the model every other component ships
    * around in memory). A production pipeline trains once per corpus
    * snapshot, PUBLISHES the merge table, and every downstream consumer
    * — segmentation (q151), chunking (q157), the serving seams
    * (segmentServe/chunkServe/serve), a resumed train
    * ([[trainFrom]]) — loads the artifact instead of re-training or
    * holding driver state. The artifact is model-sized (≤ rounds rows),
    * so the write/load are driver-cheap; the generation manifest gives
    * the same atomic-publish / pinned-reader guarantees as the data
    * indexes.
    *
    * [[q164]] is the closed loop registered under the oracle: train
    * (family-memoized) → write → LOAD → re-segment the corpus with the
    * LOADED merges via the merge-REPLAY rule ([[unitMappingOf]] —
    * BpeSpec's proven train-evolution ≡ replay equivalence). Oracle =
    * [[q151Sql]]: segmentation through the persisted artifact must
    * hash-match straight-through segmentation — the driver's compare IS
    * the artifact round-trip contract (the q161 treatment, applied to
    * the release seam). Scale shape: q151's (distinct-token replay +
    * one corpus-pass join + per-doc agg); the artifact adds one
    * model-sized parquet write+read per corpus snapshot.
    *
    * [[tokenizerWrite]] publishes `merges` as the next generation
    * ([[graft.GenManifest.writeNext]]) and returns it. */
  private[graft] def tokenizerWrite(s: SparkSession, base: java.io.File,
      merges: Seq[BpeMerge]): Long = {
    import s.implicits._
    graft.GenManifest.writeNext(base, "merges")(g =>
      merges.toDF("round", "pair", "merged", "n").coalesce(1)
        .write.parquet(graft.GenManifest.dir(base, "merges", g).getAbsolutePath))
  }

  /** Load the CURRENT generation's merge table. A gapped table is a
    * named error (a partial model silently mis-segments everything
    * downstream — the trainFrom contiguity rule, enforced at the load
    * seam so every consumer gets it). */
  private[graft] def tokenizerLoad(s: SparkSession,
      base: java.io.File): Seq[BpeMerge] = {
    val gen = graft.GenManifest.current(base, "merges")
    val ms = s.read.parquet(graft.GenManifest.dir(base, "merges", gen).getAbsolutePath)
      .collect()
      .map(r => BpeMerge(r.getAs[Int]("round"), r.getAs[String]("pair"),
        r.getAs[String]("merged"), r.getAs[Long]("n")))
      .sortBy(_.round).toSeq
    if (ms.map(_.round) != (1 to ms.size))
      sys.error(s"gapped tokenizer artifact at $base (gen $gen): rounds " +
        ms.map(_.round).mkString("[", ",", "]") + " are not contiguous from 1")
    ms
  }

  /** Train (family-memoized) + publish unless the live artifact already
    * describes `dir` — the q105/q160 standing-snapshot pattern: the
    * registered entry measures the amortized load+segment, not a
    * re-train+re-publish per call (reuse spec-pinned). */
  private[graft] def tokenizerArtifact(s: SparkSession, dir: String): java.io.File =
    graft.Standing.artifact(s, "tokenizer", "merges", dir) { base =>
      val ms = trainShared(s, dir)._1.collect()
        .map(r => BpeMerge(r.getAs[Int]("round"), r.getAs[String]("pair"),
          r.getAs[String]("merged"), r.getAs[Long]("n"))).toSeq
      tokenizerWrite(s, base, ms)
    }

  def q164(s: SparkSession, dir: String): DataFrame = {
    val ms = tokenizerLoad(s, tokenizerArtifact(s, dir))
    val toks = TextOps.docsWithToks(s, dir)
      .select(col("doc_id"), explode(col("toks")).as("token"))
    segmentReadout(toks, unitMappingOf(toks.select(col("token")).distinct(), ms))
  }

  /** Artifact round-trip ≡ straight-through: the oracle replays q151's
    * direct segmentation; a write/load that corrupted, reordered, or
    * dropped a merge would hash-mismatch. */
  val q164Sql: String = q151Sql

  // --- 181. per-language tokenizer fertility gate (r13) ---------------------
  /** The tokenizer RELEASE-GATE readout: before a trained tokenizer
    * ships (q164's artifact), the release run measures its FERTILITY —
    * subword units per character — per LANGUAGE, because a tokenizer
    * trained on a skewed mixture quietly taxes the minority languages
    * (they segment into near-character units, inflating their token
    * cost and shrinking their effective context window). One row per
    * language: doc/token/unit/char masses under the trained merges
    * ([[q151]]'s mapping — the ONE shared unit rule), the exact ratio6
    * fertility, and the release gate (1 iff fertility ≤
    * [[FertilityGateCeiling]]) — the per-language go/no-go a release
    * pipeline consults next to the q156 drift monitor.
    *
    * Scale shape: [[q151]]'s one corpus pass + mapping join (the vocab
    * rides AQE's broadcast-vs-shuffle choice exactly as there), then ONE
    * map-side-combined groupBy(lang) — the readout is \|languages\|
    * rows. Membership: tokens the training snapshot never saw have no
    * merged form and drop from the join on BOTH engines (q151's rule);
    * a language consisting only of unseen tokens would vanish from the
    * readout rather than gate at fertility 0. FULL oracle: the training
    * chain + the same grouped aggregate. */
  val FertilityGateCeiling = 0.8292

  def q181(s: SparkSession, dir: String): DataFrame =
    TextOps.docsWithToks(s, dir)
      .select(col("doc_id"), col("lang"), explode(col("toks")).as("token"))
      .join(unitMapping(s, dir), "token")
      .groupBy(col("lang"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_tokens"),
        sum(col("units")).as("n_units"),
        sum(length(col("token"))).as("n_chars"))
      // ratio6Big, not ratio6: per-LANGUAGE unit/char masses are
      // corpus-scale (a majority language at the 100 TB design point
      // exceeds ratio6's int64 |p| ≤ ~4.6e12 product bound — the q184/
      // q188 regime); bit-identical to ratio6 wherever both are in
      // range (MixDecimalSpec), so the oracle hash is unchanged
      .withColumn("fertility",
        graft.functions.Num.ratio6Big(col("n_units"), col("n_chars")))
      .withColumn("gate_ok",
        when(col("fertility") <= FertilityGateCeiling, 1L).otherwise(0L))
      .orderBy(col("lang"))

  val q181Sql: String =
    s"""$q144Chain,
       |mapping AS (SELECT replace(w, ' ', '') AS token,
       |  CAST(len(string_split(w, ' ')) AS BIGINT) AS units FROM v$Rounds),
       |f AS (
       |  SELECT lang, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_tokens,
       |    CAST(SUM(units) AS BIGINT) AS n_units,
       |    CAST(SUM(len(token)) AS BIGINT) AS n_chars
       |  FROM (SELECT doc_id, lang, unnest(${Text.toksSql}) AS token
       |        FROM documents) t
       |  JOIN mapping USING (token)
       |  GROUP BY lang)
       |SELECT lang, n_docs, n_tokens, n_units, n_chars,
       |  ${graft.functions.Num.ratio6Sql(
            "CAST(n_units AS HUGEINT)", "n_chars")} AS fertility,
       |  CAST(CASE WHEN ${graft.functions.Num.ratio6Sql(
            "CAST(n_units AS HUGEINT)", "n_chars")}
       |    <= $FertilityGateCeiling THEN 1 ELSE 0 END AS BIGINT) AS gate_ok
       |FROM f
       |ORDER BY lang""".stripMargin

  // --- 203. per-script BPE training (r16 — r15 VERDICT #4) ------------------
  /** The routing family's missing ACTION: [[q181]] flags the
    * per-language fertility tax and [[TextOps.q198]] routes by script,
    * but through r15 the engine shipped ONE merge table trained on the
    * mixed corpus — exactly the skewed-mixture tax q181 exists to
    * catch. q203 trains a merge table PER dominant-script class (the
    * q198 classification, shared via [[TextOps.scriptDocs]] so router
    * and trainer can never disagree), with the q102 grouped-sketch
    * pattern applied to the q144 trainer: every round runs ONE
    * pair-aggregate scan over the grouped vocab and picks each
    * script's argmax pair with a script-PARTITIONED row_number (window
    * over the aggregated (script, pair) relation — never corpus rows),
    * so \|scripts\| tokenizers train in Rounds scan waves TOTAL instead
    * of \|scripts\|·Rounds (at 100 TB: the difference between one
    * training sweep and eight). The driver collects ≤ \|scripts\| rows
    * per round; merges apply as ONE broadcast-literal CASE over the
    * script column. A script whose pair pool exhausts simply stops
    * contributing (the oracle's LEFT-JOIN pass-through — per-script
    * round sequences stay contiguous from 1, the trainFrom rule).
    *
    * FULL oracle: the q144 unrolled chain with a `script` stratum on
    * every stage (GROUP BY script everywhere, argmax via PARTITION BY
    * script) over the transliterated corpus. Ties break (n DESC, pair)
    * — pair strings are BMP codepoints and both engines compare
    * UTF-8/UTF-16 binary, which agree on codepoint order. */
  private def scriptWordCounts(s: SparkSession, dir: String): DataFrame =
    TextOps.scriptDocs(s, dir)
      .select(col("script"), explode(Text.tokens(col("utext"))).as("t"))
      .groupBy(col("script"), col("t")).agg(count(lit(1)).as("f"))
      .select(col("script"), spaced(col("t")).as("w"), col("f"))
      .cache()

  /** The mixture COUNTERFACTUAL's word counts: the same transliterated
    * corpus, ONE training class — what shipping a single shared table
    * over multilingual data means ([[q204]]'s baseline side). */
  private def uniWordCounts(s: SparkSession, dir: String): DataFrame =
    TextOps.scriptDocs(s, dir)
      .select(lit("all").as("script"),
        explode(Text.tokens(col("utext"))).as("t"))
      .groupBy(col("script"), col("t")).agg(count(lit(1)).as("f"))
      .select(col("script"), spaced(col("t")).as("w"), col("f"))
      .cache()

  /** One grouped merge applied per script as a broadcast-literal CASE
    * (the [[applyMerge]] replace, dispatched on the script column —
    * scripts absent from `byScript` pass through). */
  private def applyMergesGrouped(v: DataFrame,
      byScript: Seq[(String, String)]): DataFrame = {
    val applied = byScript.foldLeft(when(lit(false), col("w"))) {
      case (acc, (sc, pair)) =>
        acc.when(col("script") === sc,
          trim(replace(concat(lit(" "), col("w"), lit(" ")),
            lit(s" $pair "), lit(s" ${pair.replace(" ", "")} "))))
    }.otherwise(col("w"))
    v.withColumn("w", applied)
  }

  /** The grouped round loop over a (script, w, f) relation: per round,
    * one pair aggregate + per-script argmax (collect ≤ \|scripts\|
    * rows), one grouped CASE replace. Ends when EVERY script's pair
    * pool is empty. */
  private[graft] def trainGroupedOn(v0: DataFrame, rounds: Int)
      : Seq[(String, BpeMerge)] = {
    import org.apache.spark.sql.expressions.Window
    var vocab = v0
    val out = Seq.newBuilder[(String, BpeMerge)]
    var r = 1
    var live = true
    while (r <= rounds && live) {
      val best = vocab
        .select(col("script"),
          explode(Text.shingles(split(col("w"), " "), 2)).as("pair"),
          col("f"))
        .groupBy(col("script"), col("pair")).agg(sum(col("f")).as("n"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("script"))
            .orderBy(col("n").desc, col("pair"))))
        .filter(col("rn") === 1)
        .select(col("script"), col("pair"), col("n"))
        .collect()
      if (best.isEmpty) live = false
      else {
        val picked = best
          .map(b => (b.getString(0), b.getString(1), b.getLong(2)))
          .sortBy(_._1)
        picked.foreach { case (sc, pair, n) =>
          out += ((sc, BpeMerge(r, pair, pair.replace(" ", ""), n)))
        }
        vocab = applyMergesGrouped(vocab, picked.map(p => (p._1, p._2)))
        r += 1
      }
    }
    out.result()
  }

  /** Per-script merge tables, trained once per (family run, dir) — the
    * trainShared memo treatment. Relation: (script, round, pair,
    * merged, n). */
  private[graft] def trainPerScriptShared(s: SparkSession, dir: String): DataFrame =
    graft.Standing.relation("bpe_merges_script", dir) {
      import s.implicits._
      // the returned merge table is driver data — the v0 cache only
      // feeds the training loop, so release it as soon as training
      // returns (r16 ADVICE: it lingered until the family-boundary
      // clearCache, the exact pattern r16 fixed for q201's ct)
      val v0 = scriptWordCounts(s, dir)
      try trainGroupedOn(v0, Rounds)
        .map { case (sc, m) => (sc, m.round, m.pair, m.merged, m.n) }
        .toDF("script", "round", "pair", "merged", "n")
      finally v0.unpersist(blocking = false)
    }

  /** The mixture counterfactual's merge table (trained on ALL
    * transliterated docs as one class), memoized like the per-script
    * tables it baselines. Driver-sized by construction (≤ Rounds). */
  private def trainUniShared(s: SparkSession, dir: String): Seq[BpeMerge] =
    graft.Standing.relation("bpe_merges_uni", dir) {
      import s.implicits._
      // same v0-release rule as trainPerScriptShared (r16 ADVICE)
      val v0 = uniWordCounts(s, dir)
      try trainGroupedOn(v0, Rounds)
        .map { case (_, m) => (m.round, m.pair, m.merged, m.n) }
        .toDF("round", "pair", "merged", "n")
      finally v0.unpersist(blocking = false)
    }.collect()
      .map(r => BpeMerge(r.getAs[Int]("round"), r.getAs[String]("pair"),
        r.getAs[String]("merged"), r.getAs[Long]("n")))
      .sortBy(_.round).toSeq

  def q203(s: SparkSession, dir: String): DataFrame =
    trainPerScriptShared(s, dir)
      .orderBy(col("script"), col("round"))

  /** The q144 chain with a `script` stratum on every stage — ${p}v0 →
    * ${p}v[[Rounds]] with per-round ${p}pN (grouped pair counts) and
    * ${p}mN (per-script argmax via PARTITION BY). `v0Body` supplies the
    * grouped char-spaced word counts (routed classes or the 'all'
    * mixture). */
  private def groupedChainCtes(p: String, v0Body: String): String = {
    val init = s"${p}v0 AS ($v0Body)"
    val rounds = (1 to Rounds).map { r =>
      s"""${p}p$r AS (SELECT script, pair, CAST(SUM(f) AS BIGINT) AS n FROM (
         |  SELECT script, unnest([l[i] || ' ' || l[i+1] FOR i IN range(1, len(l))]) AS pair, f
         |  FROM (SELECT script, string_split(w, ' ') AS l, f FROM ${p}v${r - 1})) GROUP BY script, pair),
         |${p}m$r AS (SELECT script, pair, n FROM (
         |  SELECT script, pair, n, ROW_NUMBER() OVER (PARTITION BY script ORDER BY n DESC, pair) AS rn
         |  FROM ${p}p$r) WHERE rn = 1),
         |${p}v$r AS (SELECT v.script, CASE WHEN m.pair IS NULL THEN v.w
         |    ELSE trim(replace(' ' || v.w || ' ', ' ' || m.pair || ' ',
         |      ' ' || replace(m.pair, ' ', '') || ' ')) END AS w, v.f
         |  FROM ${p}v${r - 1} v LEFT JOIN ${p}m$r m ON v.script = m.script)""".stripMargin
    }
    s"$init,\n${rounds.mkString(",\n")}"
  }

  /** Routed v0: per-(script, token) counts over the transliterated
    * corpus, char-spaced — the scriptWordCounts SQL twin. */
  private lazy val v0RoutedSql: String =
    s"""SELECT script, array_to_string([t[i] FOR i IN range(1, len(t)+1)], ' ') AS w, f
       |  FROM (SELECT c.script, tok AS t, CAST(COUNT(*) AS BIGINT) AS f
       |    FROM (SELECT doc_id, unnest(${Text.toksSqlOf("utext")}) AS tok FROM uni) tq
       |    JOIN cl c ON tq.doc_id = c.doc_id
       |    GROUP BY c.script, tok)""".stripMargin

  /** Mixture v0: the same counts with one 'all' class. */
  private lazy val v0UniSql: String =
    s"""SELECT 'all' AS script, array_to_string([t[i] FOR i IN range(1, len(t)+1)], ' ') AS w, f
       |  FROM (SELECT tok AS t, CAST(COUNT(*) AS BIGINT) AS f
       |    FROM (SELECT unnest(${Text.toksSqlOf("utext")}) AS tok FROM uni)
       |    GROUP BY tok)""".stripMargin

  lazy val q203Sql: String = {
    val sel = (1 to Rounds).map(r =>
      s"SELECT script, $r AS round, pair, replace(pair, ' ', '') AS merged, n FROM gm$r")
      .mkString("\nUNION ALL\n")
    s"""WITH ${TextOps.scriptClCtesSql},
       |${groupedChainCtes("g", v0RoutedSql)}
       |$sel
       |ORDER BY script, round""".stripMargin
  }

  // --- 204. per-script tokenizer RELEASE + routed fertility proof -----------
  /** The closed loop for the per-script tables — [[q164]]'s artifact
    * lifecycle plus the readout that proves routing EARNS its place
    * (the q202 flip-count pattern at the tokenizer layer): the q203
    * tables are PUBLISHED per script under a [[graft.GenManifest]]
    * generation (relation `merges_script`, same atomic-rename /
    * aged-GC / gapped-artifact-error contract as the shared table),
    * LOADED back, and replayed over each script class's token stream
    * next to the mixture counterfactual (one table trained on
    * everything — what the engine shipped through r15). Per script:
    * masses and exact fertility under BOTH tables, the release gate
    * under both ([[FertilityGateCeiling]]), and `n_flipped` — the docs
    * whose PER-DOC fertility gate decision routing changes.
    *
    * Scale shape: training memoizes (one grouped run + one mixture run
    * per family run); the mappings are distinct-(script,)token-sized
    * relations through ≤ [[Rounds]] broadcast-literal CASE replaces
    * (AQE owns broadcast-vs-shuffle on the mapping joins, the q151
    * rule); then ONE corpus token pass with a map-side per-doc
    * aggregate and a ≤ \|scripts\|-row readout groupBy. FULL oracle:
    * both grouped chains + the mapping join + the same per-doc and
    * per-script aggregates — segmentation THROUGH the persisted
    * artifact must hash-match the oracle's straight-through replay
    * (the q164 round-trip contract, per script). Membership is total:
    * each class's tokens were all seen by its own trainer AND the
    * mixture trainer, so neither join drops rows.
    *
    * [[tokenizerWriteScripts]] publishes the per-script tables as the
    * next `merges_script` generation and returns it. */
  private[graft] def tokenizerWriteScripts(s: SparkSession,
      base: java.io.File, merges: Seq[(String, BpeMerge)]): Long = {
    import s.implicits._
    graft.GenManifest.writeNext(base, "merges_script")(g =>
      merges.map { case (sc, m) => (sc, m.round, m.pair, m.merged, m.n) }
        .toDF("script", "round", "pair", "merged", "n").coalesce(1)
        .write.parquet(graft.GenManifest.dir(base, "merges_script", g).getAbsolutePath))
  }

  /** Load the CURRENT per-script generation. A script whose rounds are
    * not contiguous from 1 is a named error ([[tokenizerLoad]]'s
    * gapped-model rule, per script). */
  private[graft] def tokenizerLoadScripts(s: SparkSession,
      base: java.io.File): Map[String, Seq[BpeMerge]] = {
    val gen = graft.GenManifest.current(base, "merges_script")
    val byScript = s.read
      .parquet(graft.GenManifest.dir(base, "merges_script", gen).getAbsolutePath)
      .collect()
      .map(r => (r.getAs[String]("script"),
        BpeMerge(r.getAs[Int]("round"), r.getAs[String]("pair"),
          r.getAs[String]("merged"), r.getAs[Long]("n"))))
      .groupBy(_._1).view
      .mapValues(_.map(_._2).sortBy(_.round).toSeq).toMap
    byScript.foreach { case (sc, ms) =>
      if (ms.map(_.round) != (1 to ms.size))
        sys.error(s"gapped per-script tokenizer artifact at $base " +
          s"(gen $gen, script $sc): rounds " +
          ms.map(_.round).mkString("[", ",", "]") +
          " are not contiguous from 1")
    }
    byScript
  }

  /** Train (family-memoized) + publish unless the live per-script
    * artifact already describes `dir` — [[tokenizerArtifact]] for the
    * `merges_script` lineage, in the same base. */
  private[graft] def scriptTokenizerArtifact(s: SparkSession, dir: String): java.io.File =
    graft.Standing.artifact(s, "tokenizer", "merges_script", dir) { base =>
      val ms = trainPerScriptShared(s, dir).collect()
        .map(r => (r.getAs[String]("script"),
          BpeMerge(r.getAs[Int]("round"), r.getAs[String]("pair"),
            r.getAs[String]("merged"), r.getAs[Long]("n")))).toSeq
      tokenizerWriteScripts(s, base, ms)
    }

  /** (script, token) → unit count under a LOADED per-script table: the
    * [[unitMappingOf]] replay rule dispatched per script (round r
    * applies each script's round-r merge through one grouped CASE). */
  private[graft] def unitMappingGrouped(keys: DataFrame,
      perScript: Map[String, Seq[BpeMerge]]): DataFrame = {
    val maxR = if (perScript.isEmpty) 0 else perScript.values.map(_.size).max
    (1 to maxR).foldLeft(
      keys.select(col("script"), col("token"),
        spaced(col("token")).as("w"))) { (v, r) =>
      val byScript = perScript.toSeq.sortBy(_._1)
        .flatMap { case (sc, ms) =>
          ms.find(_.round == r).map(m => (sc, m.pair))
        }
      applyMergesGrouped(v, byScript)
    }.select(col("script"), col("token"),
      size(split(col("w"), " ")).cast("long").as("units"))
  }

  def q204(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Num
    val toks = TextOps.scriptDocs(s, dir)
      .select(col("doc_id"), col("script"),
        explode(Text.tokens(col("utext"))).as("token"))
    // both unit mappings are pure functions of (artifact, corpus
    // snapshot) and replay through ≤Rounds CASE layers over the
    // distinct-token relation — standing relations, memoized (the
    // unitMapping/docUnits treatment): the readout's marginal cost is
    // the corpus token pass + the joins, not a re-replay per call
    val routed = graft.Standing.relation("bpe_map_routed", dir)(
      unitMappingGrouped(toks.select(col("script"), col("token")).distinct(),
        tokenizerLoadScripts(s, scriptTokenizerArtifact(s, dir))))
      .withColumnRenamed("units", "units_r")
    val shared = graft.Standing.relation("bpe_map_uni", dir)(
      unitMappingOf(
        toks.select(col("token")).distinct(), trainUniShared(s, dir)))
      .withColumnRenamed("units", "units_s")
    val dd = toks
      .join(routed, Seq("script", "token"))
      .join(shared, "token")
      .groupBy(col("script"), col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("units_r")).as("ur"),
        sum(col("units_s")).as("us"),
        sum(length(col("token"))).as("ch"))
    val dg = dd
      .withColumn("gr",
        when(Num.ratio6(col("ur"), col("ch")) <= FertilityGateCeiling, 1L)
          .otherwise(0L))
      .withColumn("gs",
        when(Num.ratio6(col("us"), col("ch")) <= FertilityGateCeiling, 1L)
          .otherwise(0L))
    dg.groupBy(col("script"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("ch")).as("n_chars"),
        sum(col("us")).as("n_units_shared"),
        sum(col("ur")).as("n_units_routed"),
        sum(when(col("gr") =!= col("gs"), 1L).otherwise(0L)).as("n_flipped"))
      // ratio6Big (the q181 rule): per-SCRIPT unit/char masses are
      // corpus-scale at the 100 TB design point
      .withColumn("fertility_shared",
        Num.ratio6Big(col("n_units_shared"), col("n_chars")))
      .withColumn("fertility_routed",
        Num.ratio6Big(col("n_units_routed"), col("n_chars")))
      .withColumn("gate_shared",
        when(col("fertility_shared") <= FertilityGateCeiling, 1L)
          .otherwise(0L))
      .withColumn("gate_routed",
        when(col("fertility_routed") <= FertilityGateCeiling, 1L)
          .otherwise(0L))
      .select(col("script"), col("n_docs"), col("n_tokens"), col("n_chars"),
        col("n_units_shared"), col("n_units_routed"),
        col("fertility_shared"), col("fertility_routed"),
        col("gate_shared"), col("gate_routed"), col("n_flipped"))
      .orderBy(col("script"))
  }

  lazy val q204Sql: String = {
    import graft.functions.Num
    val ceil = FertilityGateCeiling
    def fert(u: String) = Num.ratio6Sql(s"CAST($u AS HUGEINT)", "n_chars")
    s"""WITH ${TextOps.scriptClCtesSql},
       |${groupedChainCtes("g", v0RoutedSql)},
       |${groupedChainCtes("u", v0UniSql)},
       |gmap AS (SELECT script, replace(w, ' ', '') AS token,
       |  CAST(len(string_split(w, ' ')) AS BIGINT) AS units_r FROM gv$Rounds),
       |umap AS (SELECT replace(w, ' ', '') AS token,
       |  CAST(len(string_split(w, ' ')) AS BIGINT) AS units_s FROM uv$Rounds),
       |tkc AS (SELECT c.script, t.doc_id, t.token
       |  FROM (SELECT doc_id, unnest(${Text.toksSqlOf("utext")}) AS token FROM uni) t
       |  JOIN cl c ON t.doc_id = c.doc_id),
       |dd AS (SELECT script, doc_id, COUNT(*) AS n_tokens,
       |    CAST(SUM(units_r) AS BIGINT) AS ur,
       |    CAST(SUM(units_s) AS BIGINT) AS us,
       |    CAST(SUM(len(token)) AS BIGINT) AS ch
       |  FROM tkc JOIN gmap USING (script, token) JOIN umap USING (token)
       |  GROUP BY script, doc_id),
       |dg AS (SELECT script, n_tokens, ur, us, ch,
       |    CASE WHEN ${Num.ratio6Sql("ur", "ch")} <= $ceil THEN 1 ELSE 0 END AS gr,
       |    CASE WHEN ${Num.ratio6Sql("us", "ch")} <= $ceil THEN 1 ELSE 0 END AS gs
       |  FROM dd),
       |ag AS (SELECT script, COUNT(*) AS n_docs,
       |    CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       |    CAST(SUM(ch) AS BIGINT) AS n_chars,
       |    CAST(SUM(us) AS BIGINT) AS n_units_shared,
       |    CAST(SUM(ur) AS BIGINT) AS n_units_routed,
       |    CAST(SUM(CASE WHEN gr <> gs THEN 1 ELSE 0 END) AS BIGINT) AS n_flipped
       |  FROM dg GROUP BY script)
       |SELECT script, n_docs, n_tokens, n_chars, n_units_shared,
       |  n_units_routed,
       |  ${fert("n_units_shared")} AS fertility_shared,
       |  ${fert("n_units_routed")} AS fertility_routed,
       |  CAST(CASE WHEN ${fert("n_units_shared")} <= $ceil THEN 1 ELSE 0 END AS BIGINT) AS gate_shared,
       |  CAST(CASE WHEN ${fert("n_units_routed")} <= $ceil THEN 1 ELSE 0 END AS BIGINT) AS gate_routed,
       |  n_flipped
       |FROM ag
       |ORDER BY script""".stripMargin
  }

  def ops: Seq[Op] = Seq(
    Op("q144_bpe_train", q144, Some(q144Sql)),
    Op("q147_bpe_apply", q147, Some(q147Sql)),
    Op("q151_bpe_segment", q151, Some(q151Sql)),
    Op("q181_tokenizer_fertility", q181, Some(q181Sql)),
    Op("q156_tokenizer_drift", q156, Some(q156Sql)),
    Op("q157_context_chunks_units", q157, Some(q157Sql)),
    Op("q161_bpe_train_resumed", q161, Some(q161Sql)),
    Op("q163_bpe_train_to_vocab", q163, Some(q163Sql)),
    Op("q164_tokenizer_artifact", q164, Some(q164Sql)),
    Op("q203_bpe_train_per_script", q203, Some(q203Sql)),
    Op("q204_tokenizer_routed_fertility", q204, Some(q204Sql)))
}

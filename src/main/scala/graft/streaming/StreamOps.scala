package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState,
  GroupStateTimeout, OutputMode}
import graft.CheckpointRegistry
import graft.operators.{BpeOps, DedupOps, PipelineOps, SimOps, TextOps}
import graft.text.Text

/** Structured Streaming forms of the event operators (SURVEY §2 rows
  * 31–32 + sessionization). The batch shapes live in
  * [[graft.operators.Events]]; `StreamingSpec` asserts stream ≡ batch on
  * complete input via MemoryStream.
  *
  * Scale notes: all three are keyed state ops — state is partitioned by
  * (window) / (user_id, event_type) / (user_id) across executors, and the
  * watermark bounds state size so a 100 TB/day stream doesn't accumulate
  * unbounded windows.
  */
object StreamOps {

  /** Single source of truth for [[spanDedupVsIndex]]'s state-eviction
    * delay: the watermark string and the per-doc timeout timestamp are
    * both derived from it — editing one without the other would either
    * let state outlive the watermark or make setTimeoutTimestamp throw
    * for late-but-admitted rows (r5 ADVICE). */
  private val SpanStateDelaySec = 3600L
  private val SpanStateDelayStr = s"$SpanStateDelaySec seconds"

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  /** Distinct users per 6 h tumbling window: dropDuplicates within the
    * watermark then windowed count — the streaming-legal form of
    * COUNT(DISTINCT) over a window. */
  def windowedUserCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), window(col("ts"), "6 hours").as("win"))
      .dropDuplicates("user_id", "win")
      .groupBy(col("win"))
      .agg(count(lit(1)).as("n_users"))
      .select(date_format(col("win.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("n_users"))

  /** Keep-first dedup on (user_id, event_type) within the watermark
    * horizon. `dropDuplicatesWithinWatermark`, NOT plain
    * `dropDuplicates`: when the event-time column is not part of the
    * dedup keys, a watermark does nothing for plain dropDuplicates — no
    * late-row filtering and no state eviction, i.e. state = O(all keys
    * ever) on an unbounded stream. The WithinWatermark variant expires
    * each key once the watermark passes its event time + delay, keeping
    * state O(keys in horizon); the documented trade is that a key
    * reappearing after eviction is emitted again (asserted in
    * StreamingSpec). */
  def dedupKeepFirst(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"), col("event_id"))

  /** Stream–static join: enrich the event stream with a dimension table.
    * The static side is planned per micro-batch (broadcast at dim size) —
    * the standard pattern for joining a 100 TB/day stream to reference
    * data without any stream-side state. */
  def enrichedEvents(events: DataFrame, dims: DataFrame): DataFrame =
    events.join(org.apache.spark.sql.functions.broadcast(dims),
      events("user_id") % 25 === dims("n_nationkey"))
      .select(events("event_id"), events("user_id"), events("event_type"),
        dims("n_name").as("nation"))

  /** Stream–stream interval join (the streaming form of the q60 range
    * join): clicks within 10 minutes BEFORE each purchase, per user.
    * Both sides carry watermarks and the join condition bounds event
    * time on both sides, so each side's buffered state is
    * O(events in watermark horizon + range) — the planner derives the
    * state-eviction predicate from the interval bounds. Output is the
    * matched pairs in append mode; the per-purchase count is a
    * downstream windowed aggregate if needed. */
  def purchaseClickJoin(purchases: DataFrame, clicks: DataFrame): DataFrame = {
    val p = purchases
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val c = clicks
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    p.join(c, expr(
      "p_user = c_user AND c_ts >= p_ts - INTERVAL 10 MINUTES AND c_ts < p_ts"))
      .select(col("p_id"), col("p_user"), col("c_ts"))
  }

  /** Incremental corpus dedup: newly-arriving documents check against
    * the EXISTING corpus without recomputing it. The corpus side is two
    * static relations (in production: parquet written when the corpus
    * version was built) — its MinHash band-bucket index and its shingle
    * sets. Each micro-batch then runs entirely STATELESS stages: per-row
    * signatures (DedupOps.rowBandBuckets — array HOFs, no aggregation),
    * a stream-static bucket equi-join, and the exact-Jaccard verify
    * against the static shingle sets. The one stateful op is the final
    * pair dedup (a doc colliding with the same corpus doc in several
    * bands), watermark-bounded — pairs only repeat within their own
    * micro-batch, so the horizon never drops a legitimate dedup.
    *
    * 100 TB shape: stream volume is the arrival rate, not the corpus;
    * the corpus index is only ever probed by equi-join (shuffled or
    * broadcast per Catalyst), and state is O(pairs in horizon).
    *
    * `newDocs`: (doc_id, text, ts). Emits (doc_id, dup_of, jaccard). */
  def dedupVsIndex(newDocs: DataFrame, indexBuckets: DataFrame,
      indexShingles: DataFrame): DataFrame = {
    val newSh = newDocs
      .select(col("doc_id"), col("ts"),
        array_distinct(Text.shingles(Text.tokens(col("text")), 3)).as("shs"))
      .filter(size(col("shs")) > 0)
    DedupOps.rowBandBuckets(newSh)
      .withWatermark("ts", "1 hour")
      .join(indexBuckets.select(col("doc_id").as("dup_of"), col("band"),
        col("bucket")), Seq("band", "bucket"))
      .filter(col("doc_id") =!= col("dup_of"))
      .join(indexShingles.select(col("doc_id").as("dup_of"),
        col("shs").as("shs_b")), Seq("dup_of"))
      .withColumn("inter", size(array_intersect(col("shs"), col("shs_b"))))
      .withColumn("jraw", col("inter") /
        (size(col("shs")) + size(col("shs_b")) - col("inter")).cast("double"))
      .filter(col("jraw") >= 0.5)
      .select(col("doc_id"), col("dup_of"), round(col("jraw"), 6).as("jaccard"),
        col("ts"))
      .dropDuplicatesWithinWatermark("doc_id", "dup_of")
      .drop("ts")
  }

  /** Streaming as-of join, bounded lookback: the most recent click in
    * the 10 minutes before each purchase. Two chained stateful
    * operators — the watermarked interval join emits every qualifying
    * click, then a windowed max collapses to one row per purchase
    * (Spark 4 propagates watermarks through the join, so the aggregate
    * finalizes in append mode once no late click can extend it). The
    * grouping window is keyed by the purchase's OWN event time; p_id is
    * unique, so the window only provides the completion trigger.
    *
    * The batch as-of (q64) looks back unboundedly; that form is not
    * streaming-expressible (state = every click ever seen). The bounded
    * contract is the streaming as-of: state on both sides is
    * O(watermark horizon + interval). */
  def asofPurchaseClick(purchases: DataFrame, clicks: DataFrame): DataFrame = {
    val p = purchases
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val c = clicks
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    p.join(c, expr(
      "p_user = c_user AND c_ts >= p_ts - INTERVAL 10 MINUTES AND c_ts < p_ts"))
      .groupBy(col("p_id"), col("p_user"), window(col("p_ts"), "10 minutes"))
      .agg(max(col("c_ts")).as("last_click_ts"), count(lit(1)).as("n_clicks"))
      .select(col("p_id"), col("p_user"),
        date_format(col("last_click_ts"), "yyyy-MM-dd HH:mm:ss").as("last_click_ts"),
        col("n_clicks"))
  }

  /** Declarative gap-based sessions via the native `session_window`
    * built-in — the state-store-native alternative to
    * [[sessionCounts]]'s explicit flatMapGroupsWithState: the planner
    * owns session merge + eviction (watermark closes a session once no
    * event can extend it), the plan stays whole-stage-codegen around
    * the state op, and numShufflePartitions/state rebalancing apply.
    * Boundary semantics differ from batch q28 by one edge: an event at
    * EXACTLY gap distance extends a q28 session (`diff > gap` splits)
    * but starts a new `session_window` one (merge needs overlap, i.e.
    * strict `< gap`) — StreamingSpec pins stream ≡ batch against the
    * batch-mode `session_window` form, which shares the semantics. */
  def sessionWindowAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("user_id"),
        date_format(col("sw.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(col("sw.end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        col("n_events"), col("total_value"))

  /** Per-user session counting with explicit keyed state
    * (flatMapGroupsWithState): gap > 30 min starts a new session. Emits
    * (user_id, n_sessions) per trigger. */
  /** Streaming quantile sketch, bin side: equi-width binned value counts
    * — the bounded-state form of percentile estimation on an unbounded
    * stream. State is ONE count per occupied bin (≤ domain/binWidth by
    * contract; the width knob trades resolution for state), updated per
    * micro-batch with map-side partial aggregation. The stream never
    * buffers raw values — Spark's exact `percentile` would buffer every
    * value in state — and reads interpolate from the tiny bin relation
    * ([[quantileFromBins]]) with error bounded by one bin width. The
    * same two-piece shape (mergeable binned counts + read-time
    * interpolation) is how q24/q67 avoid value buffering in batch. */
  def binnedValueCounts(events: DataFrame, binWidth: Double): DataFrame =
    events
      .groupBy(floor(col("value") / binWidth).cast("long").as("bin"))
      .agg(count(lit(1)).as("cnt"))

  /** Read side of the sketch: interpolated quantile estimates for `ps`
    * from a binned-count relation. All joins are against the bin
    * relation (bounded by contract) or a 1-row total — broadcast-sized;
    * the cumulative window orders the AGGREGATED bins, never raw data. */
  def quantileFromBins(bins: DataFrame, binWidth: Double,
      ps: Seq[Double]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = bins.sparkSession
    import spark.implicits._
    val cum = bins.withColumn("cum",
      sum(col("cnt")).over(Window.orderBy(col("bin"))))
    val ranks = ps.toDF("p")
      .crossJoin(broadcast(bins.agg(sum(col("cnt")).as("total"))))
      .withColumn("rank", greatest(ceil(col("p") * col("total")), lit(1L)))
    ranks.join(broadcast(cum), col("cum") >= col("rank"))
      .groupBy(col("p"), col("rank"))
      .agg(min(struct(col("bin"), col("cnt"), col("cum"))).as("b"))
      .select(col("p"),
        (col("b.bin") * binWidth +
          lit(binWidth) * (col("rank") - (col("b.cum") - col("b.cnt"))) /
            col("b.cnt")).as("est"))
      .orderBy(col("p"))
  }

  /** One hit row of the streaming span probe (the shingle itself is
    * dropped at the join — only coordinates enter state). */
  final case class SpanHit(doc_id: Long, ts: Timestamp, pos: Long)
  /** Keyed state: the doc's current MAXIMAL merged spans + a monotone
    * update counter (so a consumer keeps each doc's latest row). */
  final case class SpanState(spans: List[(Long, Long)], seq: Long)
  final case class SpanUpd(doc_id: Long, upd_seq: Long, n_spans: Long,
      dup_tokens: Long, spans: String)

  /** Streaming SPAN-level dedup against a static corpus shingle set —
    * the span companion of [[dedupVsIndex]] and the streaming form of
    * the q98/q109 detection core (DedupOps.dupSpans) restricted to
    * new-vs-corpus: every k-token window of an arriving doc that also
    * occurs in the corpus is a duplicated position, and overlapping
    * windows merge into maximal spans (same `pos > prevMax` island
    * rule as batch; adjacent-but-disjoint windows stay separate).
    *
    * Stages: stateless positional explode → stream-static LEFT SEMI
    * join against `indexShingles(sh)` (the corpus relation is only
    * ever probed by equi-join — broadcast or shuffled per Catalyst,
    * never in stream state) → gaps-and-islands inside keyed state per
    * doc_id. State is the doc's merged span list — O(doc length / k),
    * bounded by the doc, never by the corpus — and is evicted by
    * event-time timeout one watermark delay past the doc's arrival.
    * Re-delivery of a doc (or a doc split across micro-batches) merges
    * idempotently into the same maximal spans (spec-pinned).
    *
    * Emits one Update-mode row per doc per touching trigger:
    * (doc_id, upd_seq, n_spans, dup_tokens, spans) with `spans` the
    * "s-e,s-e" rendering of the maximal span list.
    *
    * `newDocs`: (doc_id, text, ts). `indexShingles`: (sh) distinct —
    * in production the parquet artifact written at corpus-build time
    * (the q108 pattern); here any static relation. */
  def spanDedupVsIndex(newDocs: DataFrame, indexShingles: DataFrame,
      k: Int): DataFrame = {
    val spark = newDocs.sparkSession
    import spark.implicits._
    val hits = newDocs
      .select(col("doc_id"), col("ts"),
        posexplode(Text.shingles(Text.tokens(col("text")), k)).as(Seq("p0", "sh")))
      .join(indexShingles.select(col("sh")), Seq("sh"), "left_semi")
      .select(col("doc_id"), col("ts"), (col("p0") + 1).cast("long").as("pos"))
      .withWatermark("ts", SpanStateDelayStr)
      .as[SpanHit]
    hits
      .groupByKey(_.doc_id)
      .flatMapGroupsWithState[SpanState, SpanUpd](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (docId: Long, it: Iterator[SpanHit], state: GroupState[SpanState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val rows = it.toList
            val add = rows.map(h => (h.pos, h.pos + (k - 1)))
            if (add.isEmpty) Iterator.empty
            else {
              val st = state.getOption.getOrElse(SpanState(Nil, 0L))
              // batch island rule: a window whose start is > the running
              // max end opens a new span; <= merges (extends the end)
              val merged = (st.spans ++ add).sortBy(identity)
                .foldLeft(List.empty[(Long, Long)]) {
                  case ((s, e) :: acc, (s2, e2)) if s2 <= e =>
                    (s, math.max(e, e2)) :: acc
                  case (acc, sp) => sp :: acc
                }.reverse
              val ns = SpanState(merged, st.seq + 1)
              state.update(ns)
              // evict once the watermark passes the doc's own event time
              // + delay (NOT currentWatermark + delay: that is 0-based on
              // the first batch and would expire live state immediately)
              state.setTimeoutTimestamp(
                rows.map(_.ts.getTime).max + SpanStateDelaySec * 1000)
              Iterator(SpanUpd(docId, ns.seq, merged.size.toLong,
                merged.map { case (s, e) => e - s + 1 }.sum,
                merged.map { case (s, e) => s"$s-$e" }.mkString(",")))
            }
          }
      }
      .toDF()
  }

  /** ANN serving against the persisted IVF+PQ index (the q105
    * artifact): each batch runs the exact batch serving path — probe
    * its top-nprobe cells map-side against the broadcast centroid row,
    * collect the ≤|cells| probed ids, prune the index read to those
    * partitions, ADC-shortlist, exact-rerank. Inside [[serve]] the batch
    * is a plain DataFrame, so the probed-cell list inlines as literals
    * and static partition pruning fires exactly as in q105 (the spec
    * asserts `PartitionFilters` on the inner plan; a stream-static join
    * would plan the index scan against values it cannot see and read
    * the whole index per batch). Per-batch IO = |probed cells| / |cells|
    * of the index.
    *
    * Batch: (vec_id, embedding). Sink: the ranked results
    * (q_id, n_id, cos, rank). */
  def ann(idx: DataFrame, cellsRow: DataFrame, cbRow: DataFrame, k: Int): Fold =
    Fold.map(b => SimOps.annIndexSearch(idx,
      SimOps.probeCells(SimOps.withNorm(b), cellsRow, SimOps.IdxNProbe),
      cbRow, k))

  /** [[ann]] as a MAINTAINED fold — the q122 treatment for vectors:
    * each batch is answered against the index as of its arrival, THEN
    * encoded with the artifact's FROZEN model and folded in by
    * partitioned append; once the current generation's file count
    * passes `compactAtFiles`, compaction rewrites it at a new generation
    * (manifest-published — readers pinned at an old generation are
    * undisturbed). Appends never move an existing vector's cell or code
    * (the frozen-model invariant), so results are independent of file
    * layout and re-delivery just re-appends rows an id-keyed consumer
    * dedups. The model row and codebook are read once, on the fold's
    * first batch, into driver-local rows (so they pin no file listing)
    * and serve the search and the encode of every batch; per-batch IO
    * stays |probed cells| / |cells| of the index plus one arrival-sized
    * encode. [[graft.operators.SimOps.annIndexDrift]] remains the
    * when-to-rebuild signal as appends accumulate.
    *
    * Batch: (vec_id, embedding). Sink: [[ann]]'s ranked results. */
  def annMaintained(base: java.io.File, k: Int, compactAtFiles: Int = 64): Fold = {
    lazy val model = SimOps.annIndexModel(SparkSession.active, base) match {
      case (cells, cb) => (driverLocal(cells), driverLocal(cb)) }
    Fold.maintained(_.select(col("vec_id"), col("embedding"))) { t =>
      SimOps.annIndexSearch(SimOps.annIndexVecs(t.sparkSession, base),
        SimOps.probeCells(SimOps.withNorm(t), model._1, SimOps.IdxNProbe),
        model._2, k)
    } { (t, _) =>
      SimOps.annIndexAppend(base, t, model)
      if (SimOps.annIndexFileCount(base) > compactAtFiles)
        SimOps.annIndexCompact(t.sparkSession, base)
    }
  }

  /** A catalog-sized `df` collected into a DRIVER-LOCAL relation: it
    * reads no files and owns no checkpoint blocks, so a rebuild of its
    * source or a harness-level CheckpointRegistry.releaseAll() while a
    * stream is live cannot strand later micro-batches, and every batch's
    * join against it is a plain LocalRelation broadcast. */
  private def driverLocal(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** NOVELTY — q189 per batch: each doc's fraction of distinct
    * 3-shingles the standing corpus index (`DedupOps.q189Write`'s
    * bucketed artifact) has never seen — the admission pipeline's
    * template-inflow monitor at the seam. The index side is
    * bucket-aligned, so the probe needs no exchange on it.
    *
    * Batch: (doc_id, text). Sink: q189's (doc_id, n_shingles, n_novel,
    * novelty). */
  val novelty: Fold = Fold.map(b => DedupOps.q189ProbeOf(b.sparkSession,
    b.select(col("doc_id"),
      array_distinct(Text.shingles(Text.tokens(col("text")), 3)).as("shs"))))

  /** ADMISSION — the q122 capstone per batch: each doc's near-dup /
    * cleaned / attribution / admit record against the persisted
    * snapshot artifacts (`DedupOps.q122Write` or the production snapshot
    * build), through the exact batch probe (`DedupOps.q122ProbeToks`).
    * The batch is tokenized once and cached for the three probes.
    *
    * Batch: (doc_id, source, text). Sink: the q122-shaped records. */
  val admit: Fold = Fold.map(b =>
    DedupOps.q122ProbeToks(b.sparkSession, CheckpointRegistry.cached(admitToks(b))))

  private def admitToks(b: DataFrame): DataFrame =
    b.select(col("doc_id"), col("source"), Text.tokens(col("text")).as("toks"))

  /** [[admit]] as a MAINTAINED fold — the always-on pipeline wired shut:
    * after each batch's admission records are frozen and delivered, its
    * ADMITTED docs are folded into the snapshot artifacts (band index
    * via q108Append, source-tagged window index via q119Append), and
    * whichever artifact's file count has passed `compactAtFiles` is
    * compacted (generation-cataloged — pinned readers are undisturbed).
    * Later arrivals near-dup/clean/attribute against snapshot ∪
    * everything admitted before them. Re-delivery of a batch re-appends
    * already-present rows — harmless for the set-semantics band/window
    * artifacts, and the compaction's dedupe collapses them.
    *
    * Batch: (doc_id, source, text). Sink: the q122-shaped records. */
  def admitMaintained(compactAtFiles: Int = 64): Fold =
    Fold.maintained(admitToks)(t => DedupOps.q122ProbeToks(t.sparkSession, t)) {
      (t, rec) => DedupOps.admissionMaintain(t.sparkSession, t,
        rec.filter(col("admit") === 1).select(col("doc_id")), compactAtFiles)
    }

  /** RETRIEVAL against the q130 term-stats artifact, MAINTAINED: each
    * batch is scored for the standing `query` under the persisted
    * statistics (`TextOps.q130Probe` — batch-sized explode,
    * artifact-pruned broadcast df side, corpus never rescanned), then
    * folded into them by partial-row append, so later arrivals are
    * scored under statistics that include everything before them (df
    * and avgdl drift tracked live). Once the df index passes
    * `compactAtFiles` files it is compacted (`TextOps.q130Compact`:
    * partial rows summed per term, probes bit-identical), so an always-on
    * stream's df side stays bounded.
    *
    * Batch: (doc_id, text). Sink: the (doc_id, n_terms, bm25) top-K as
    * of the batch's arrival. */
  def bm25(query: Seq[String], compactAtFiles: Int = 64): Fold =
    Fold.maintained(_.select(col("doc_id"), Text.tokens(col("text")).as("toks")))(
        t => TextOps.q130Probe(t.sparkSession, t, query)) { (t, _) =>
      val s = t.sparkSession
      TextOps.q130Append(s, t)
      if (TextOps.G130Df.fileCount(s) > compactAtFiles) TextOps.q130Compact(s)
    }

  /** DRIFT GATE — q124's monitoring readout as a per-batch admission
    * signal: each batch's per-(source, lang) token share is compared
    * against the SNAPSHOT shares of `snapDocs` (a catalog-sized
    * aggregate, computed once when the fold is made and broadcast per
    * batch); a cell drifts when its absolute shift exceeds
    * `maxShiftMicros` — the guard that keeps an upstream ingest skew
    * (one feed suddenly dominating) from silently baking into the
    * mixture policies (q82/q114/q120) downstream.
    *
    * The sink receives the batch's q124-shaped cell rows, each with its
    * `drifted` flag (0/1); the batch drifted iff any row's flag is 1.
    * Shares are computed WITHIN each side (snapshot's own total vs the
    * batch's own total, exact half-away micros — q124's comparability
    * rule), so batch size never masquerades as drift. Per-batch cost is
    * one arrival-sized aggregate joined to a broadcast
    * ≤|sources×langs| relation.
    *
    * Batch and `snapDocs`: (doc_id, source, lang, text). */
  def driftGate(snapDocs: DataFrame, maxShiftMicros: Long): Fold = {
    import graft.functions.Num
    // snapshot side once: (source, lang, tok_old, share_old_micros)
    val s0 = snapDocs.select(col("source"), col("lang"),
        size(Text.tokens(col("text"))).cast("long").as("nt"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("docs_old"), sum(col("nt")).as("tok_old"))
    val snapTot = s0.agg(sum(col("tok_old"))).head().getLong(0)
    // The snapshot is catalog-sized (≤ |sources×langs| rows) by premise
    val snap = driverLocal(s0.withColumn("share_old_micros",
      Num.idivHalfAway(col("tok_old") * 1000000L, lit(snapTot))))
    Fold.map { batch =>
      val b = batch.select(col("source"), col("lang"),
          size(Text.tokens(col("text"))).cast("long").as("nt"))
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("docs_new"), sum(col("nt")).as("tok_new"))
      val btot = b.agg(sum(col("tok_new")).as("tot_new"))
      snap
        .join(b, Seq("source", "lang"), "full")
        .na.fill(0L, Seq("docs_old", "tok_old", "share_old_micros",
          "docs_new", "tok_new"))
        .crossJoin(broadcast(btot))
        .withColumn("share_new_micros",
          when(col("tot_new") === 0, lit(0L)).otherwise(
            Num.idivHalfAway(col("tok_new") * 1000000L, col("tot_new"))))
        .withColumn("delta_micros",
          col("share_new_micros") - col("share_old_micros"))
        .withColumn("drifted",
          (abs(col("delta_micros")) > maxShiftMicros).cast("int"))
        .select(col("source"), col("lang"), col("docs_old"), col("docs_new"),
          col("tok_old"), col("tok_new"), col("share_old_micros"),
          col("share_new_micros"), col("delta_micros"), col("drifted"))
        .orderBy(col("source"), col("lang"))
    }
  }

  /** Corpus SEGMENTATION with a SHIPPED tokenizer — q151's readout at
    * the arrival seam: each batch explodes to tokens and re-tokenizes
    * them by REPLAYING the trained merge table over the batch's OWN
    * distinct-token vocabulary ([[graft.operators.BpeOps.unitMappingOf]]
    * — the q156 rule, so tokens the trainer never saw segment exactly as
    * the shipped tokenizer segments them: merges fire where they apply,
    * character fallback elsewhere). A static PRECOMPUTED corpus mapping
    * would silently drop (inner join) or null (left join)
    * out-of-vocabulary arrivals — the one case a serving path exists
    * for. Per batch: [[graft.operators.BpeOps.Rounds]] broadcast-literal
    * replaces over the batch-vocabulary-sized distinct relation, then
    * one batch-sized join + per-doc aggregate; the merge table itself is
    * ≤ Rounds rows — a driver literal.
    *
    * Batch: (doc_id, text). Sink: the q151-shaped per-doc readout. */
  def segment(merges: Seq[BpeOps.BpeMerge]): Fold = Fold.map { b =>
    // cached: the distinct-vocabulary branch and the join probe both
    // read the tokenized batch — uncached, every batch would tokenize
    // and explode twice
    val toks = CheckpointRegistry.cached(b.select(col("doc_id"),
      explode(Text.tokens(col("text"))).as("token")))
    BpeOps.segmentReadout(toks,
      BpeOps.unitMappingOf(toks.select(col("token")).distinct(), merges))
  }

  /** Context CHUNKING with a SHIPPED tokenizer — q157's readout at the
    * arrival seam: each batch explodes to POSITIONED tokens, prices them
    * by the [[segment]] merge replay over the batch's own vocabulary,
    * and cuts each doc into fixed-budget chunks through the SAME
    * aggregate the batch op runs ([[graft.operators.BpeOps.chunkReadout]])
    * — stream ≡ batch by construction (the start-offset rule runs inside
    * a doc-keyed window, so the batch a doc arrived in cannot move a
    * chunk boundary). With `gate` (the benchmark shingle set,
    * [[graft.operators.PipelineOps.benchShingles]]) contaminated chunks
    * are DROPPED before the sink sees them ([[decontamGate]]; the rest of
    * the doc still serves — q173's sequence granularity).
    *
    * Batch: (doc_id, text). Sink: q157's chunk rows. */
  def chunk(merges: Seq[BpeOps.BpeMerge], gate: Option[DataFrame] = None): Fold =
    Fold.map { b =>
      val (toks, mapping) = batchToksAndMapping(b, merges)
      decontamGate(BpeOps.chunkReadout(toks, mapping), gate).chunks
    }

  /** The shared per-batch prelude of [[chunk]] and every [[Pack]] fold:
    * positioned tokens (batch-scoped [[graft.CheckpointRegistry.cached]]
    * — the distinct-vocabulary branch and the join probe both read them)
    * + the OOV-correct unit mapping replayed over the batch's own
    * vocabulary. One definition so the serve paths cannot silently
    * diverge on the tokenize/replay rule. */
  private def batchToksAndMapping(batch: DataFrame,
      merges: Seq[BpeOps.BpeMerge]): (DataFrame, DataFrame) = {
    val toks = CheckpointRegistry.cached(batch.select(col("doc_id"),
        posexplode(Text.tokens(col("text"))).as(Seq("pos0", "token")))
      .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"),
        col("token")))
    (toks, BpeOps.unitMappingOf(toks.select(col("token")).distinct(), merges))
  }

  /** A batch's chunk readout after the optional q173 eval-overlap gate:
    * `chunks` keeps the readout's rows, `docs` filters any other
    * doc-keyed rows of the same batch. Both are the identity ungated. */
  private[StreamOps] final class Gated(val chunks: DataFrame,
      val docs: DataFrame => DataFrame)

  /** The q173 eval-overlap gate at the arrival seam: a chunk is flagged
    * when its own token window shares ≥
    * [[graft.operators.PipelineOps.ContamMinShared]] distinct shingles
    * with the BROADCAST benchmark set `benchSh` — the SAME
    * [[graft.operators.PipelineOps.contamCountsOf]] rule the batch build
    * flags with, so served appends can no longer bypass the gate the
    * rebuild enforces. Flagged chunks leave `chunks`;
    * `docs` drops every row of a doc with ≥1 flagged chunk (a doc whose
    * text overlaps a benchmark item must not smuggle that item's
    * pixels/samples in through its payload locators). Stateless: the
    * bench set is static and eval-sized by premise (one broadcast
    * semi-join per micro-batch; zero stream state). */
  private def decontamGate(readout: DataFrame, benchSh: Option[DataFrame])
      : Gated =
    benchSh.fold(new Gated(readout, identity)) { b =>
      val flagged = PipelineOps.contamCountsOf(
          readout.select(col("doc_id"), col("chunk_id"), col("text_chunk")), b)
        .filter(col("n_shared") >= PipelineOps.ContamMinShared)
        .select(col("doc_id"), col("chunk_id"))
      new Gated(readout.join(flagged, Seq("doc_id", "chunk_id"), "left_anti"),
        _.join(flagged.select(col("doc_id")).distinct(), Seq("doc_id"),
          "left_anti"))
    }

  /** Driver-side state of a pack-family serve: the global unit offset,
    * the epoch tail's rank offset when the state is `ranked`, and the
    * (batchId, base, rankBase) of the most recent batch — the
    * idempotent-re-delivery key (Structured Streaming only ever
    * re-delivers the latest uncommitted batch, so the state is BOUNDED,
    * not a map over the stream's life). The triple lives in ONE volatile
    * reference: batch executions can land on different micro-batch
    * threads, and its fields must be read consistently.
    *
    * A file-backed state ([[ServeState.resume]]) is persisted by
    * [[commit]] after every batch the sink consumed: one JSON line,
    * `{"offset":…,"last_id":…,"last_base":…}`, plus
    * `"rank_offset":…,"rank_last_base":…` when ranked, written by
    * write-temp + atomic rename ([[graft.GenManifest.atomicWrite]]) so a
    * reader or a crash never sees a torn state and the two offsets never
    * part. A restarted process passes the same file and resumes exactly
    * where the stream left off:
    *
    *  - died AFTER the sink and the state write, BEFORE the stream
    *    checkpoint commit → the batch is RE-DELIVERED under its original
    *    batchId, and [[claim]] replays it at its original base and rank
    *    base, byte-identically (idempotent downstream absorption);
    *  - died BETWEEN the sink and the state write → the persisted state
    *    predates the batch, which packs and ranks fresh at the SAME bases
    *    it originally used — byte-identical again;
    *  - died after everything committed → the next batch enters at the
    *    persisted offsets, gapless in units and in ranks.
    *
    * The file is keyed by nothing but its path: one file, and one state,
    * per query lifecycle (starting a second query from the same writer
    * reuses the captured state and its batchId space — caller error).
    * Requires the stream to run with a checkpointLocation so re-delivery
    * keeps batch ids — the standard Structured Streaming recovery
    * premise. */
  final class ServeState private (baseOffset: Long, rankBase: Option[Long],
      lastCommitted: (Long, Long, Long), file: Option[java.io.File]) {
    private val units = new java.util.concurrent.atomic.AtomicLong(baseOffset)
    private val ranks = rankBase.map(new java.util.concurrent.atomic.AtomicLong(_))
    @volatile private var lastRef = lastCommitted

    def offset: Long = units.get()
    def ranked: Boolean = ranks.isDefined
    def rankOffset: Long = ranks.getOrElse(
      throw new IllegalStateException("an unranked ServeState has no rank offset"))
      .get()
    def last: (Long, Long, Long) = lastRef

    /** The (base, rankBase) batch `batchId` packs and ranks at: a
      * re-delivered batch (or a second claim within one batch) gets its
      * ORIGINAL bases; a fresh batch enters at the current offsets. */
    def claim(batchId: Long): (Long, Long) = {
      val (lastId, lastBase, lastRankBase) = lastRef
      if (batchId == lastId) (lastBase, lastRankBase)
      else {
        val b = (units.get(), ranks.fold(0L)(_.get()))
        lastRef = (batchId, b._1, b._2)
        b
      }
    }

    /** Move an offset to `end` — only after the sink returns (a sink
      * failure leaves the stream resumable at its base), and never
      * backwards (a re-delivered old batch must not rewind past fresher
      * batches). */
    private[StreamOps] def advance(end: Long): Unit = {
      units.updateAndGet(cur => math.max(cur, end)); ()
    }
    private[StreamOps] def advanceRanks(end: Long): Unit = {
      ranks.foreach(_.updateAndGet(cur => math.max(cur, end))); ()
    }

    /** Persist the state to its file; a no-op for an in-memory state. */
    def commit(): Unit = file.foreach { f =>
      val (lastId, lastBase, lastRankBase) = lastRef
      graft.GenManifest.atomicWrite(f,
        s"""{"offset":${units.get()},"last_id":$lastId,"last_base":$lastBase""" +
          ranks.fold("")(r =>
            s""","rank_offset":${r.get()},"rank_last_base":$lastRankBase""") +
          "}")
    }
  }

  object ServeState {
    /** An in-memory state entering at unit offset `offset` — the
      * rebuild→serve handoff: pass the static build's final end_offset
      * and arrivals continue its shard stream. `ranked` (an [[epochTail]]
      * fold's state) also counts served ranks, from 0: the tail's rank
      * prefix is the fold's `nGenPrefix`. */
    def apply(offset: Long = 0L, ranked: Boolean = false): ServeState =
      new ServeState(offset, if (ranked) Some(0L) else None,
        (-1L, offset, 0L), None)

    /** The state persisted in `file`, or [[apply]]`(offset, ranked)` when
      * the file does not exist yet; [[ServeState.commit]] writes it back.
      * A ranked state's file carries the rank fields too. A missing field
      * is a named error, and so is a ranked file read as an unranked
      * state (its next commit would drop the rank fields). */
    def resume(file: java.io.File, offset: Long = 0L, ranked: Boolean = false)
        : ServeState =
      if (!file.isFile)
        new ServeState(offset, if (ranked) Some(0L) else None,
          (-1L, offset, 0L), Some(file))
      else {
        val what = if (ranked) "epoch tail state" else "pack state"
        val txt = new String(java.nio.file.Files.readAllBytes(file.toPath), "UTF-8")
        val fields = """"(\w+)"\s*:\s*(-?\d+)""".r.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toLong).toMap
        def field(k: String): Long = fields.getOrElse(k,
          throw new IllegalStateException(
            s"$what ${file.getPath}: missing field '$k' in: $txt"))
        if (!ranked && fields.contains("rank_offset"))
          throw new IllegalStateException(s"$what ${file.getPath}: has " +
            s"'rank_offset' (an epoch tail state); resume it ranked: $txt")
        new ServeState(field("offset"),
          if (ranked) Some(field("rank_offset")) else None,
          (field("last_id"), field("last_base"),
            if (ranked) field("rank_last_base") else 0L),
          Some(file))
      }
  }

  /** One serve's per-micro-batch body. [[serve]] runs `step` per batch,
    * then commits the state; StreamingSpec drives `step` itself to replay
    * a re-delivered batchId or a process death (MemoryStream's happy path
    * never re-delivers and cannot survive one). `step` runs the fold's
    * body inside ONE [[graft.CheckpointRegistry.scoped]] block, whoever
    * calls it: what the batch checkpoints or
    * [[graft.CheckpointRegistry.cached caches]] dies when the step
    * returns, so a sink must consume its frame before it returns. */
  sealed abstract class Fold {
    /** Whether the fold needs a ranked [[ServeState]] ([[epochTail]]). */
    def ranked: Boolean = false
    protected def run(batch: DataFrame, state: ServeState, batchId: Long)
        (sink: DataFrame => Unit): Unit
    final def step(batch: DataFrame, state: ServeState, batchId: Long)
        (sink: DataFrame => Unit): Unit =
      CheckpointRegistry.scoped(run(batch, state, batchId)(sink))
  }

  object Fold {
    /** A stateless fold: the sink receives `f(batch)`. */
    def map(f: DataFrame => DataFrame): Fold = new Fold {
      protected def run(batch: DataFrame, state: ServeState, batchId: Long)
          (sink: DataFrame => Unit): Unit = sink(f(batch))
    }

    /** A MAINTAINED fold: each batch is answered against the standing
      * artifacts as of its arrival, and only then folded into them —
      * `t = cached(prep(batch))`, decisions `d = checkpoint(decide(t))`,
      * `sink(d)`, then `maintain(t, d)`. The decisions are materialized
      * BEFORE any maintenance lands, so a batch never answers against
      * itself, and later batches see snapshot ∪ everything before them:
      * the sequential semantics of a daily batch pipeline at micro-batch
      * granularity. The artifacts own all persistence; the stream holds
      * none. */
    def maintained(prep: DataFrame => DataFrame)(decide: DataFrame => DataFrame)
        (maintain: (DataFrame, DataFrame) => Unit): Fold = new Fold {
      protected def run(batch: DataFrame, state: ServeState, batchId: Long)
          (sink: DataFrame => Unit): Unit = {
        val t = CheckpointRegistry.cached(prep(batch))
        val d = CheckpointRegistry.checkpoint(decide(t))
        sink(d)
        maintain(t, d)
      }
    }
  }

  /** Packs a batch under `lineage`: the lineage's rows of the batch
    * (`rowsOf` over the gated chunk readout and the gated docs) at the
    * batch's claimed base under the one pack law
    * ([[graft.operators.PipelineOps.packAt]]: the lineage's order key,
    * a PrefixSum running unit total plus the base, the start-offset
    * shard rule), emitted in `cum_units` order. [[epochTail]] ranks the
    * packed rows under the lineage's draw key. */
  final class Pack private[StreamOps] (
      merges: Seq[BpeOps.BpeMerge], gate: Option[DataFrame],
      private[StreamOps] val lineage: PipelineOps.Lineage)
      extends Fold {
    protected def run(batch: DataFrame, state: ServeState, batchId: Long)
        (sink: DataFrame => Unit): Unit = {
      val (toks, mapping) = batchToksAndMapping(batch, merges)
      // cached: the mass total and the sink's PrefixSum plan both read the
      // row masses — uncached, the merge replay + mapping join + doc
      // window + groupBy would run twice per batch. Both gate references
      // live inside this ONE cached plan, so the flagged-key subplan
      // executes at most twice within a single batch-sized
      // materialization — never per action
      val g = decontamGate(BpeOps.chunkReadout(toks, mapping), gate)
      val rows = CheckpointRegistry.cached(lineage.rowsOf(g.chunks,
        g.docs(batch.select(col("doc_id"), col("text")))))
      val (base, _) = state.claim(batchId)
      val packed = PipelineOps
        .packAt(rows, lineage.orderPrefix, lineage.keys, Some(base))
        // deterministic EMIT order: PrefixSum's final window
        // leaves rows hash-distributed by bin — correct values, arbitrary
        // order past one post-shuffle partition. The pack order is part
        // of this op's contract, so sort the batch-sized result by it.
        .orderBy(col("cum_units"))
      val total = rows.agg(coalesce(sum(col("n_units")), lit(0L)))
        .head().getLong(0)
      sink(packed)
      state.advance(base + total)
    }
  }

  /** Streaming SEQUENCE PACKING at the arrival seam — what a loader
    * does between full rebuilds: arriving docs chunk under the shipped
    * tokenizer ([[chunk]]'s OOV-correct replay + the shared
    * [[graft.operators.BpeOps.chunkReadout]]), and their chunks APPEND
    * to the unit-budgeted shard stream where it left off. Within a
    * batch, chunks order deterministically by q158's md5-bkey rule; the
    * running unit total continues from the state's offset, so shard ids
    * keep the q158 start-offset budget rule across batch boundaries (a
    * batch may fill the previous batch's last partial shard — appending
    * rows to an open shard, never rewriting emitted ones). Emits
    * (doc_id, chunk_id, n_tokens, n_units, cum_units, shard).
    *
    * vs the static rebuild (q158): the rebuild globally shuffles ALL
    * chunks into md5-bkey order; the serve path packs arrivals in
    * arrival order (that is what "append" means). The divergence is
    * ORDER ONLY — chunk membership and masses are identical to a batch
    * chunking of the same docs (StreamingSpec reconciles both, plus
    * the per-batch local replay and the budget bound).
    *
    * With `gate` (the benchmark shingle set) contaminated chunks drop
    * BEFORE the running offsets are assigned, so the served shard stream
    * (and any artifact it appends to —
    * [[graft.operators.PipelineOps.Lineage.appendServed]]) never carries
    * benchmark-overlapping sequences or their mass. The gate is
    * deterministic and chunk-local, so every fold guarantee (idempotent
    * re-delivery at the original base, gapless offsets over what WAS
    * packed, open-shard append, deterministic emit order) holds verbatim.
    *
    * Scale shape: zero executor stream state; per batch: the [[chunk]]
    * costs + the PrefixSum two-level scan over batch-sized CACHED chunk
    * masses (computed once, read by the mass total and the sink's
    * plan). */
  def pack(merges: Seq[BpeOps.BpeMerge],
      gate: Option[DataFrame] = None): Pack =
    new Pack(merges, gate, PipelineOps.Lineage.Pack)

  /** [[pack]] for the MULTIMODAL stream (the q196 build at the
    * arrival seam): each arriving doc batch packs its text chunks AND its
    * image/audio locator rows under ONE running unit offset. Text rows
    * price exactly like [[pack]] (merge replay → chunkReadout); modality
    * rows come from the SAME geometry builder as the batch op
    * ([[graft.operators.PipelineOps.modalityRowsOf]] — one definition,
    * the two paths cannot drift), and the interleave key is the mmpack
    * lineage's order key. Payload bytes never enter the stream —
    * locators only, the q196 contract. Emits (doc_id, seq_id, modality,
    * locator, n_units, cum_units, shard). With `gate`, flagged text
    * chunks drop AND so do the locator rows of their docs
    * ([[decontamGate]]), so arrivals landed via
    * [[graft.operators.PipelineOps.Lineage.appendServed]] cannot bypass
    * the gate the rebuild enforces. Every [[pack]] guarantee holds
    * verbatim over the interleaved rows. */
  def mmPack(merges: Seq[BpeOps.BpeMerge],
      gate: Option[DataFrame] = None): Pack =
    new Pack(merges, gate, PipelineOps.Lineage.MmPack)

  /** The epoch TAIL at the arrival seam (q200 over [[pack]],
    * q207 over [[mmPack]]): arriving docs pack exactly like `fold`, and
    * each served sequence ALSO gets its per-epoch tail rank —
    * `seq_rank = nGenPrefix + served-so-far + its draw-law rank within
    * the batch` — so a running training job consumes arrivals straight
    * into the open epoch without re-deriving anything. Emits (epoch,
    * seq_rank, the fold's key columns, shard). vs the batch op: q200/q207
    * rank ALL arrivals in one okey order; the serve path necessarily
    * appends batch-by-batch (earlier served ranks are immutable), so the
    * divergence is ORDER ONLY across batches — a single batch covering
    * the same arrivals is byte-identical to the batch op's tail
    * (StreamingSpec reconciles exactly that, plus cross-batch density).
    *
    * Needs a ranked [[ServeState]]: unit offset and rank base key by the
    * one batchId through the same [[ServeState.claim]], so a re-delivered
    * batch replays at the original offset AND rank base. Scale shape: the
    * pack costs + one batch-sized epoch fold (Epochs × batch rows, never
    * the corpus) + a 1-row count. */
  def epochTail(fold: Pack, nGenPrefix: Long): Fold = new Fold {
    override def ranked: Boolean = true
    protected def run(batch: DataFrame, state: ServeState, batchId: Long)
        (sink: DataFrame => Unit): Unit = {
      require(state.ranked, "an epoch-tail fold needs a ranked ServeState")
      fold.step(batch, state, batchId) { packed =>
        val cached = CheckpointRegistry.cached(packed)
        val (_, rankBase) = state.claim(batchId)
        val ids = fold.lineage.ids :+ "shard"
        val ranked = PipelineOps.epochRanked(
            cached.select(ids.map(col): _*), fold.lineage, "arr_rank")
          .select(col("epoch") +:
            (col("arr_rank") + nGenPrefix + rankBase).as("seq_rank") +:
            ids.map(col): _*)
          .orderBy(col("epoch"), col("seq_rank"))
        val n = cached.count()
        sink(ranked)
        state.advanceRanks(rankBase + n)
      }
    }
  }

  /** Serve `fold` over an arriving stream — the library's one
    * `foreachBatch`: per micro-batch, `fold.step` under `state`, then
    * `state.commit()`. Each fold runs its operator's exact batch plan on
    * the micro-batch as a plain DataFrame, and the stateless folds share
    * one stream contract:
    *
    *  - batches are DOC-ATOMIC (one ingest record = one whole doc, the
    *    normal file/queue ingest shape), so the per-doc rules — island
    *    merges, complement slicing, chunk boundaries — see whole docs;
    *  - the stream holds ZERO state: the artifacts own all persistence,
    *    so re-delivery is idempotent per doc, and per-batch cost is
    *    batch-linear;
    *  - the union over micro-batches of the sink's frames ≡ the batch op
    *    over the same docs (StreamingSpec pins each fold).
    *
    * A [[Fold.maintained]] fold instead answers each batch as of its
    * arrival and then folds the batch into its artifacts. A stateless
    * fold ignores `state`; the default in-memory [[ServeState]] commits
    * nothing.
    *
    * The pack-family folds key their state by foreachBatch's batchId, so
    * a RE-DELIVERED batch (sink succeeded, checkpoint commit didn't)
    * replays at its ORIGINAL bases, reproducing the identical rows (an
    * append-only downstream absorbs them by key idempotence) instead of
    * shifting the stream; offsets only ever advance past fresh batches.
    * Crash-safe with a file-backed state ([[ServeState.resume]]). A
    * state that is not ranked exactly when the fold is fails here, before
    * the query starts. */
  def serve(newDocs: DataFrame, fold: Fold, state: ServeState = ServeState())
      (sink: DataFrame => Unit): DataStreamWriter[Row] = {
    // checked here, before any batch runs: inside foreachBatch the
    // mismatch would fail the running query, and an unranked state
    // would rewrite an epoch tail's state file without its rank fields
    require(fold.ranked == state.ranked,
      if (fold.ranked) "an epoch-tail fold needs a ranked ServeState"
      else "a pack fold needs an unranked ServeState")
    newDocs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      fold.step(batch, state, batchId)(sink)
      state.commit()
    }
  }

  /** [[serve]] of the gated text [[pack]] from unit offset 0. */
  def packServeDecontam(newDocs: DataFrame, merges: Seq[BpeOps.BpeMerge],
      benchSh: DataFrame)(sink: DataFrame => Unit): DataStreamWriter[Row] =
    serve(newDocs, pack(merges, Some(benchSh)))(sink)

  def sessionCounts(events: Dataset[Event]): DataFrame = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long), (Long, Long)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[(Long, Long)]) =>
          val (prevLastSec, prevCount) = state.getOption.getOrElse((Long.MinValue, 0L))
          var lastSec = prevLastSec
          var n = prevCount
          it.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            val sec = e.ts.getTime / 1000
            if (lastSec == Long.MinValue || sec - lastSec > 1800) n += 1
            lastSec = sec
          }
          state.update((lastSec, n))
          Iterator((userId, n))
      }
      .toDF("user_id", "n_sessions")
  }
}

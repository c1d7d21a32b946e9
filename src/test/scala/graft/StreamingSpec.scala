package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{DedupOps, Events}
import graft.streaming.StreamOps
import graft.streaming.StreamOps.Event

/** Arrival-shaped document for the incremental-dedup stream. */
case class NewDoc(doc_id: Long, text: String, ts: java.sql.Timestamp)

/** Arrival-shaped document carrying its source tag (attribution stream). */
case class SrcDoc(doc_id: Long, source: String, text: String)

/** Stream ≡ batch on complete input: each streaming pipeline, fed the
  * events table through MemoryStream, must agree with its batch shape in
  * [[Events]]. */
class StreamingSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  private def eventData: Seq[Event] =
    Tables.events(spark, SF)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id)).toSeq

  test("streaming windowed user counts ≡ batch q31") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Event]
    ms.addData(eventData)
    val q = StreamOps.windowedUserCounts(ms.toDF())
      .writeStream.format("memory").queryName("t_q31").outputMode("complete").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val got = spark.table("t_q31")
      .select("win_start", "n_users").as[(String, Long)].collect().sortBy(_._1)
    val want = Events.q31(spark, SF)
      .select("win_start", "n_users").as[(String, Long)].collect().sortBy(_._1)
    assert(got === want)
  }

  test("streaming keep-first dedup ≡ batch q32") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Event]
    ms.addData(eventData)
    val q = StreamOps.dedupKeepFirst(ms.toDF())
      .writeStream.format("memory").queryName("t_q32").outputMode("append").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val got = spark.table("t_q32")
      .select("user_id", "event_type", "event_id")
      .as[(Long, String, Long)].collect().toSet
    val want = Events.q32(spark, SF)
      .select("user_id", "event_type", "event_id")
      .as[(Long, String, Long)].collect().toSet
    assert(got === want)
  }

  test("stream-static dimension join enriches every event") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Event]
    ms.addData(eventData)
    val dims = Tables.nation(spark, SF)
    val q = StreamOps.enrichedEvents(ms.toDF(), dims)
      .writeStream.format("memory").queryName("t_enr").outputMode("append").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val got = spark.table("t_enr")
    assert(got.count() === eventData.length)
    assert(got.filter(col("nation").isNull).count() === 0)
  }

  test("stateful agg is state-store-portable: RocksDB provider ≡ batch q31") {
    // the default HDFSBackedStateStoreProvider holds state on the JVM
    // heap — at 100 TB/day stream volume the off-heap RocksDB provider
    // is the production choice (bounded heap, incremental checkpoints).
    // Same query, same results, only the state backend swapped.
    implicit val ctx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[Event]
      ms.addData(eventData)
      val q = StreamOps.windowedUserCounts(ms.toDF())
        .writeStream.format("memory").queryName("t_rocksdb")
        .outputMode("complete").start()
      try { q.processAllAvailable() } finally { q.stop() }
      val got = spark.table("t_rocksdb")
        .select("win_start", "n_users").as[(String, Long)].collect().sortBy(_._1)
      val want = Events.q31(spark, SF)
        .select("win_start", "n_users").as[(String, Long)].collect().sortBy(_._1)
      assert(got === want)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("Trigger.AvailableNow drains everything, terminates itself, ≡ batch q31") {
    // the periodic-ingest production pattern: a scheduled job starts the
    // stream, AvailableNow processes exactly the data present (in
    // rate-limited micro-batches, unlike the deprecated Trigger.Once)
    // and shuts the query down — incremental semantics, batch lifecycle
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Event]
    ms.addData(eventData)
    val q = StreamOps.windowedUserCounts(ms.toDF())
      .writeStream.format("memory").queryName("t_avnow")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "AvailableNow query must self-terminate")
    assert(!q.isActive)
    val got = spark.table("t_avnow")
      .select("win_start", "n_users").as[(String, Long)].collect().sortBy(_._1)
    val want = Events.q31(spark, SF)
      .select("win_start", "n_users").as[(String, Long)].collect().sortBy(_._1)
    assert(got === want)
  }

  test("streaming binned quantile sketch: bins ≡ batch, error ≤ one bin width") {
    implicit val ctx = spark.sqlContext
    val values = eventData.map(_.value).sorted
    val width = (values.last - values.head) / 32.0
    val ms = MemoryStream[Event]
    ms.addData(eventData)
    val q = StreamOps.binnedValueCounts(ms.toDF(), width)
      .writeStream.format("memory").queryName("t_qsketch")
      .outputMode("complete").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamBins = spark.table("t_qsketch")
    // the incremental state ≡ the batch aggregation, and it IS small:
    // bounded by occupied bins, not by stream length
    val batchBins = StreamOps.binnedValueCounts(eventData.toDF(), width)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = streamBins.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === batchBins)
    assert(got.size <= 33 && got.values.sum === values.length.toLong)
    // interpolated estimates land within one bin of the exact quantile
    val ps = Seq(0.05, 0.25, 0.5, 0.75, 0.95)
    val est = StreamOps.quantileFromBins(streamBins, width, ps)
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    ps.foreach { p =>
      val exact = values(math.max(0, math.ceil(p * values.length).toInt - 1))
      assert(math.abs(est(p) - exact) <= width + 1e-9,
        s"p=$p est=${est(p)} exact=$exact width=$width")
    }
  }

  // --- late / out-of-order arrivals: watermark-drop semantics ------------
  /** Epoch-anchored timestamps (UTC midnight 2024-01-01) so 6 h windows
    * land on exact boundaries regardless of JVM default timezone. */
  private val base = 1704067200000L
  private def at(h: Int, m: Int = 0) =
    new java.sql.Timestamp(base + h * 3600000L + m * 60000L)

  test("windowed agg drops events older than the watermark") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Event]
    val q = StreamOps.windowedUserCounts(ms.toDF())
      .writeStream.format("memory").queryName("t_late_win")
      .outputMode("append").start()
    try {
      // batch 1: two users in [06:00,12:00), one at 13:30 pushes the
      // watermark to 12:30 — past the first window's end
      ms.addData(Seq(
        Event(1, at(10), 1, "click", 1.0),
        Event(2, at(10, 30), 2, "click", 1.0),
        Event(3, at(13, 30), 9, "click", 1.0)))
      q.processAllAvailable()
      // batch 2: user 3 arrives at 09:00 — BEHIND the 12:30 watermark →
      // must be discarded, not added to the closed [06:00,12:00) window;
      // the 20:00 event advances the watermark past 18:00
      ms.addData(Seq(
        Event(4, at(9), 3, "click", 1.0),
        Event(5, at(20), 9, "click", 1.0)))
      q.processAllAvailable()
      // one more batch so the no-data watermark flush finalizes [12,18)
      ms.addData(Seq(Event(6, at(22), 9, "click", 1.0)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("t_late_win")
      .select("win_start", "n_users").as[(String, Long)].collect().toMap
    assert(got("2024-01-01 06:00:00") === 2L,
      "late user 3 must not be counted into the closed window")
    assert(got("2024-01-01 12:00:00") === 1L)
  }

  test("dedup state is watermark-bounded: in-horizon dups suppress, evicted keys re-emit") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Event]
    val q = StreamOps.dedupKeepFirst(ms.toDF())
      .writeStream.format("memory").queryName("t_late_dedup")
      .outputMode("append").start()
    try {
      // duplicate inside the watermark horizon → suppressed
      ms.addData(Seq(
        Event(1, at(10), 1, "click", 1.0),
        Event(2, at(10, 5), 1, "click", 1.0)))
      q.processAllAvailable()
      // far-future event pushes the watermark to 39:00 → (1, click) state
      // (saved at 10:00) is evicted; this is exactly what keeps dedup
      // state O(keys in horizon) instead of O(all keys ever) at 100 TB/day
      ms.addData(Seq(Event(3, at(40), 5, "click", 1.0)))
      q.processAllAvailable()
      // the same key arriving after eviction is emitted again — the
      // documented watermark contract for streaming dedup
      ms.addData(Seq(Event(4, at(41), 1, "click", 1.0)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("t_late_dedup")
      .select("user_id", "event_type", "event_id")
      .as[(Long, String, Long)].collect().toSet
    assert(got === Set((1L, "click", 1L), (5L, "click", 3L), (1L, "click", 4L)),
      "dup event 2 must be suppressed; event 4 re-emits after state eviction")
  }

  test("stream-stream interval join ≡ batch range-join pairs") {
    implicit val ctx = spark.sqlContext
    val msP = MemoryStream[Event]
    val msC = MemoryStream[Event]
    val purchases = eventData.filter(_.event_type == "purchase")
    val clicks = eventData.filter(_.event_type == "click")
    msP.addData(purchases)
    msC.addData(clicks)
    val q = StreamOps.purchaseClickJoin(msP.toDF(), msC.toDF())
      .writeStream.format("memory").queryName("t_ssj").outputMode("append").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val got = spark.table("t_ssj")
      .select("p_id", "c_ts").as[(Long, java.sql.Timestamp)]
      .collect().map { case (id, ts) => (id, ts.getTime) }.sorted.toSeq
    // batch reference: the inner form of q60's range join
    val ev = Tables.events(spark, SF)
    val want = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
      .join(ev.filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("ts").as("c_ts")),
        col("p_user") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES") &&
          col("c_ts") < col("p_ts"))
      .select("p_id", "c_ts").as[(Long, java.sql.Timestamp)]
      .collect().map { case (id, ts) => (id, ts.getTime) }.sorted.toSeq
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("incremental dedup vs static index ≡ full-corpus q50 restricted to the split") {
    implicit val ctx = spark.sqlContext
    import graft.text.Text
    val docs = Tables.documents(spark, SF).select("doc_id", "text")
    def shOf(df: org.apache.spark.sql.DataFrame) = df.select(col("doc_id"),
      array_distinct(Text.shingles(Text.tokens(col("text")), 3)).as("shs"))
      .filter(size(col("shs")) > 0)
    val corpusSh = shOf(docs.filter(col("doc_id") % 4 =!= 0)).cache()
    val indexBuckets = DedupOps.rowBandBuckets(corpusSh)
      .select(col("doc_id"), col("band"), col("bucket")).cache()
    val base = 1704067200000L
    val newDocs = docs.filter(col("doc_id") % 4 === 0)
      .as[(Long, String)].collect()
      .map { case (id, text) => NewDoc(id, text, new java.sql.Timestamp(base + id)) }
    val ms = MemoryStream[NewDoc]
    ms.addData(newDocs.toSeq)
    val q = StreamOps.dedupVsIndex(ms.toDF(), indexBuckets, corpusSh)
      .writeStream.format("memory").queryName("t_incdedup").outputMode("append").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val got = spark.table("t_incdedup")
      .select("doc_id", "dup_of", "jaccard")
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (math.min(a, b), math.max(a, b), j) }.toSet
    // ground truth: the FULL-corpus batch q50, restricted to pairs with
    // exactly one member on the stream side. Set equality proves the
    // row-local streaming signatures are bit-identical to the batch
    // explode+groupBy signatures (same buckets → same candidates → same
    // verified pairs, none extra, none lost).
    val want = DedupOps.q50(spark, SF)
      .as[(Long, Long, Double)].collect()
      .filter { case (a, b, _) => (a % 4 == 0) != (b % 4 == 0) }.toSet
    assert(got === want)
    assert(got.nonEmpty, "no planted near-dup straddles the corpus/stream split")
    corpusSh.unpersist(); indexBuckets.unpersist()
  }

  test("streaming span dedup vs static shingle index ≡ batch island merge, idempotent on re-delivery") {
    implicit val ctx = spark.sqlContext
    import graft.text.Text
    val k = DedupOps.SlideSpanK
    val docs = Tables.documents(spark, SF).select("doc_id", "text")
    val corpusSh = docs.filter(col("doc_id") % 4 =!= 0)
      .select(explode(Text.shingles(Text.tokens(col("text")), k)).as("sh"))
      .distinct().cache()
    val base = 1704067200000L
    val streamDocs = docs.filter(col("doc_id") % 4 === 0)
      .as[(Long, String)].collect()
    val mk = streamDocs.map { case (id, t) =>
      NewDoc(id, t, new java.sql.Timestamp(base + id)) }.toSeq
    val ms = MemoryStream[NewDoc]
    val q = StreamOps.spanDedupVsIndex(ms.toDF(), corpusSh, k)
      .writeStream.format("memory").queryName("t_spandedup")
      .outputMode("update").start()
    try {
      ms.addData(mk); q.processAllAvailable()
      ms.addData(mk); q.processAllAvailable() // full re-delivery
    } finally { q.stop() }
    val latest = spark.table("t_spandedup")
      .as[StreamOps.SpanUpd].collect()
      .groupBy(_.doc_id).map { case (id, rows) => id -> rows.maxBy(_.upd_seq) }
    // pure-Scala ground truth: hit iff the window string ∈ corpus set,
    // islands merge while the next start ≤ the running max end
    val corpusSet = corpusSh.as[String].collect().toSet
    val want = streamDocs.flatMap { case (id, text) =>
      val toks = "[a-z0-9]+".r.findAllIn(text.toLowerCase).toVector
      val hits = toks.sliding(k).zipWithIndex.collect {
        case (w, i) if w.length == k && corpusSet(w.mkString(" ")) =>
          ((i + 1).toLong, (i + k).toLong)
      }.toList
      val merged = hits.foldLeft(List.empty[(Long, Long)]) {
        case ((s, e) :: acc, (s2, e2)) if s2 <= e => (s, math.max(e, e2)) :: acc
        case (acc, sp) => sp :: acc
      }.reverse
      if (merged.isEmpty) None
      else Some(id -> merged.map { case (s, e) => s"$s-$e" }.mkString(","))
    }.toMap
    assert(latest.keySet === want.keySet)
    latest.foreach { case (id, row) =>
      assert(row.spans === want(id), s"doc $id spans")
      assert(row.dup_tokens ===
        row.spans.split(",").map { sp =>
          val Array(s, e) = sp.split("-"); e.toLong - s.toLong + 1 }.sum)
      // re-delivery touched the doc again but merged idempotently
      assert(row.upd_seq === 2L, s"doc $id update count")
    }
    assert(want.nonEmpty, "no duplicated span straddles the corpus/stream split")
    corpusSh.unpersist()
  }

  test("streaming ANN serving ≡ batch q105, partition-pruned per micro-batch") {
    implicit val ctx = spark.sqlContext
    import graft.operators.SimOps
    val e = Tables.embeddings(spark, SF)
    // q105 writes the per-application index artifact and answers the
    // test query set in batch — the ground truth AND the served index
    val want = SimOps.q105(spark, SF).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val base = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_annindex-${spark.sparkContext.applicationId}")
    // r6 self-contained layout: generationed vectors (manifest-resolved)
    // under vecs_g{N}/, frozen model beside
    val idx = SimOps.annIndexVecs(spark, base)
    val (cellsRow0, cbRow0) = SimOps.annIndexModel(spark, base)
    val cellsRow = cellsRow0.cache()
    val cbRow = cbRow0.cache()
    val qs = SimOps.testQueries(e).select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect()
    val (h1, h2) = qs.splitAt(qs.length / 2)
    assert(h1.nonEmpty && h2.nonEmpty)
    val ms = MemoryStream[(Long, Array[Float])]
    val buf = scala.collection.mutable.ArrayBuffer[(Long, Long, Double, Long)]()
    val plans = scala.collection.mutable.ArrayBuffer[String]()
    val q = StreamOps.serve(ms.toDF().toDF("vec_id", "embedding"),
        StreamOps.ann(idx, cellsRow, cbRow, SimOps.IdxK)) { out =>
      plans += out.queryExecution.executedPlan.toString
      buf ++= out.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    }.start()
    try {
      ms.addData(h1.toSeq); q.processAllAvailable()
      ms.addData(h2.toSeq); q.processAllAvailable()
    } finally { q.stop() }
    // batching is invisible: per-query rankings are independent, so the
    // union over micro-batches is exactly the batch serving answer
    assert(buf.toSet === want)
    assert(buf.nonEmpty)
    // each micro-batch's index read was statically partition-pruned to
    // its own probed cells (the q105 serving contract, now per batch)
    assert(plans.nonEmpty)
    plans.foreach { p =>
      val scan = p.split("\n").find(_.contains("graft_annindex"))
      assert(scan.nonEmpty, s"index scan not found:\n$p")
      assert(scan.get.matches(""".*PartitionFilters: \[cell_id#\d+ IN \(.*"""),
        s"micro-batch index read must prune partitions:\n${scan.get}")
    }
    cellsRow.unpersist(); cbRow.unpersist()
  }

  test("streaming ANN serving with maintenance ≡ sequential search-then-append lifecycle") {
    implicit val ctx = spark.sqlContext
    import graft.operators.SimOps
    val e = Tables.embeddings(spark, SF)
    val snapshot = e.filter(col("vec_id") % 4 =!= 0)
    val arriving = e.filter(col("vec_id") % 4 === 0)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    val (b1, b2) = arriving.splitAt(arriving.length / 2)
    assert(b1.nonEmpty && b2.nonEmpty)
    def shot(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toList

    // ---- sequential batch lifecycle: search as-of arrival, then append ----
    val refBase = Standing.dir(spark, "annserve_ref")
    SimOps.annIndexWrite(spark, refBase, snapshot)
    val (cells, cb) = SimOps.annIndexModel(spark, refBase)
    def searchRef(vs: Seq[(Long, Array[Float])]) = shot(SimOps.annIndexSearch(
      SimOps.annIndexVecs(spark, refBase),
      SimOps.probeCells(SimOps.withNorm(
        spark.createDataFrame(vs).toDF("vec_id", "embedding")), cells, SimOps.IdxNProbe),
      cb, SimOps.IdxK))
    def appendRef(vs: Seq[(Long, Array[Float])]) = SimOps.annIndexAppend(
      refBase, spark.createDataFrame(vs).toDF("vec_id", "embedding"), (cells, cb))
    val want1 = searchRef(b1.toSeq); appendRef(b1.toSeq)
    val want2 = searchRef(b2.toSeq); appendRef(b2.toSeq)

    // ---- the maintained stream over the same batches ----
    val base = Standing.dir(spark, "annserve_m")
    SimOps.annIndexWrite(spark, base, snapshot)
    val gen0 = SimOps.annIndexGen(base)
    val ms = MemoryStream[(Long, Array[Float])]
    val batches = scala.collection.mutable.ArrayBuffer[List[(Long, Long, Double, Long)]]()
    val ckBefore = CheckpointRegistry.liveCount
    // threshold low enough that the b1 append trips a compaction before
    // b2 is served — the mid-run maintenance case
    val q = StreamOps.serve(ms.toDF().toDF("vec_id", "embedding"),
        StreamOps.annMaintained(base, SimOps.IdxK, compactAtFiles = 1)) { out =>
      batches += shot(out) }.start()
    try {
      ms.addData(b1.toSeq); q.processAllAvailable()
      ms.addData(b2.toSeq); q.processAllAvailable()
    } finally { q.stop() }
    assert(CheckpointRegistry.liveCount === ckBefore,
      "maintained ANN serving leaked checkpoint registrations")
    assert(batches.length === 2)
    assert(batches(0) === want1)
    assert(batches(1) === want2)
    // cross-batch effect: some b2 arrival ranked a b1 arrival among its
    // neighbors — impossible against the static snapshot
    assert(want2.exists { case (_, n, _, _) => n % 4 == 0 },
      "no cross-batch neighbor — split too coarse to exercise maintenance")
    // maintenance really ran: at least one compaction advanced the
    // generation, and the final artifact ≡ fresh encode of the union
    // under the frozen model (probes bit-identical)
    assert(SimOps.annIndexGen(base) > gen0, "no compaction fired")
    val probeAll = SimOps.probeCells(SimOps.withNorm(SimOps.testQueries(e)),
      cells, SimOps.IdxNProbe)
    val got = shot(SimOps.annIndexSearch(SimOps.annIndexVecs(spark, base),
      probeAll, cb, SimOps.IdxK))
    val fresh = shot(SimOps.annIndexSearch(
      SimOps.pqEncode(SimOps.assignToCells(SimOps.withNorm(
        snapshot.unionByName(spark.createDataFrame(arriving.toSeq)
          .toDF("vec_id", "embedding"), allowMissingColumns = true)
          .select(col("vec_id"), col("embedding"))), cells), cb)
        .select(col("vec_id"), col("codes"), col("embedding"), col("nrm"),
          col("cell_id").cast("int").as("cell_id")),
      probeAll, cb, SimOps.IdxK))
    assert(got === fresh)
  }

  test("streaming span cleaning ≡ batch clean-vs-index; cut tokens ≡ detection spans") {
    implicit val ctx = spark.sqlContext
    import graft.text.Text
    val k = DedupOps.SlideSpanK
    val docs = Tables.documents(spark, SF).select("doc_id", "text")
    val corpusSh = docs.filter(col("doc_id") % 4 =!= 0)
      .select(explode(Text.shingles(Text.tokens(col("text")), k)).as("sh"))
      .distinct().cache()
    val streamDocs = docs.filter(col("doc_id") % 4 === 0)
    val base = 1704067200000L
    val mk = streamDocs.as[(Long, String)].collect()
      .map { case (id, t) => NewDoc(id, t, new java.sql.Timestamp(base + id)) }.toSeq
    val (h1, h2) = mk.splitAt(mk.length / 2)
    val ms = MemoryStream[NewDoc]
    val buf = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Double, String)]()
    val q = StreamOps.serve(ms.toDF().select("doc_id", "text"),
        StreamOps.Fold.map(DedupOps.cleanVsIndex(_, corpusSh, k))) { out =>
      buf ++= out.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getDouble(3), r.getString(4)))
    }.start()
    try {
      ms.addData(h1); q.processAllAvailable()
      ms.addData(h2); q.processAllAvailable()
    } finally { q.stop() }
    // union over micro-batches ≡ one batch run over all stream docs
    val want = DedupOps.cleanVsIndex(streamDocs, corpusSh, k).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getString(4))).toSet
    assert(buf.toSet === want)
    assert(buf.map(_._1).toSet === mk.map(_.doc_id).toSet,
      "cleaning must emit every doc, cut or not")
    assert(buf.exists(r => r._3 < r._2), "no span was cut — vacuous")
    // the cut mass reconciles with the DETECTION op on the same index:
    // n_tokens − kept_tokens per doc == spanDedupVsIndex's dup_tokens
    val ms2 = MemoryStream[NewDoc]
    ms2.addData(mk)
    val q2 = StreamOps.spanDedupVsIndex(ms2.toDF(), corpusSh, k)
      .writeStream.format("memory").queryName("t_spanclean_det")
      .outputMode("update").start()
    try { q2.processAllAvailable() } finally { q2.stop() }
    val det = spark.table("t_spanclean_det").as[StreamOps.SpanUpd].collect()
      .groupBy(_.doc_id).map { case (id, rows) => id -> rows.maxBy(_.upd_seq) }
    buf.foreach { case (id, n, kept, _, _) =>
      assert(n - kept === det.get(id).map(_.dup_tokens).getOrElse(0L),
        s"doc $id cut mass vs detection")
    }
    corpusSh.unpersist()
  }

  test("streaming span-source attribution ≡ batch core; sink re-aggregates to q119's matrix") {
    implicit val ctx = spark.sqlContext
    import graft.text.Text
    val k = DedupOps.DupSpanK
    val mod = DedupOps.IncrSplitMod
    val docs = Tables.documents(spark, SF).select("doc_id", "source", "text")
    // source-tagged window index from the snapshot split (q119's shape)
    val idx = docs.filter(col("doc_id") % mod =!= 0)
      .select(col("source").as("osrc"),
        explode(Text.shingles(Text.tokens(col("text")), k)).as("sh"))
      .select("sh", "osrc").distinct().cache()
    val streamDocs = docs.filter(col("doc_id") % mod === 0)
    val mk = streamDocs.as[(Long, String, String)].collect()
      .map { case (id, src, t) => SrcDoc(id, src, t) }.toSeq
    val (h1, h2) = mk.splitAt(mk.length / 2)
    val ms = MemoryStream[SrcDoc]
    val buf = scala.collection.mutable.ArrayBuffer[(Long, String, String, Long)]()
    val q = StreamOps.serve(ms.toDF(),
        StreamOps.Fold.map(DedupOps.attributeVsIndex(_, idx, k))) { out =>
      buf ++= out.collect().map(r => (r.getLong(0), r.getString(1),
        r.getString(2), r.getLong(3)))
    }.start()
    try {
      ms.addData(h1); q.processAllAvailable()
      ms.addData(h2); q.processAllAvailable()
    } finally { q.stop() }
    // docs are batch-disjoint ⇒ union over micro-batches ≡ the batch core
    val want = DedupOps.attributeVsIndex(streamDocs, idx, k).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    assert(buf.toSet === want)
    assert(buf.nonEmpty)
    // and one re-aggregation over the sink IS the registered matrix
    val gotMatrix = buf.groupBy(r => (r._2, r._3)).map { case ((src, osrc), rows) =>
      (src, osrc, rows.map(_._1).distinct.size.toLong, rows.map(_._4).sum) }.toSet
    val wantMatrix = DedupOps.q119(spark, SF).collect()
      .map(r => (r.getString(0), r.getString(1), r.getAs[Long]("n_docs"),
        r.getAs[Long]("dup_tokens"))).toSet
    assert(gotMatrix === wantMatrix)
    idx.unpersist()
  }

  test("streaming novelty ≡ batch q189 on the split, zero state, arrival-sized probes") {
    implicit val ctx = spark.sqlContext
    val mod = DedupOps.IncrSplitMod
    // the registered probe builds (or reuses) the standing snapshot
    // artifact and is the expectation
    val want = DedupOps.q189(spark, SF).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val mk = Tables.documents(spark, SF)
      .filter(col("doc_id") % mod === 0)
      .select("doc_id", "source", "text").as[(Long, String, String)].collect()
      .map { case (id, src, t) => SrcDoc(id, src, t) }.toSeq
    val (h1, h2) = mk.splitAt(mk.length / 2)
    val ms = MemoryStream[SrcDoc]
    val buf = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Double)]()
    val q = StreamOps.serve(ms.toDF().select("doc_id", "text"),
        StreamOps.novelty) { out =>
      buf ++= out.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    }.start()
    try {
      ms.addData(h1); q.processAllAvailable()
      ms.addData(h2); q.processAllAvailable()
    } finally { q.stop() }
    // batch-disjoint docs => union over micro-batches ≡ the batch probe
    assert(buf.toSet === want)
    assert(buf.nonEmpty)
    // idempotent re-delivery: the probe is a pure function of the
    // arrival batch and the standing artifact — re-probing the same
    // docs yields identical rows (zero stream state to corrupt)
    val again = DedupOps.q189ProbeOf(spark,
      DedupOps.docShingles(spark, SF).filter(col("doc_id") % mod === 0))
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_shingles"),
        r.getAs[Long]("n_novel"), r.getAs[Double]("novelty"))).toSet
    assert(again === want)
  }

  test("streaming admission ≡ batch q122 on the split, idempotent per doc") {
    implicit val ctx = spark.sqlContext
    val mod = DedupOps.IncrSplitMod
    // the registered capstone writes the artifacts and is the expectation
    val want = DedupOps.q122(spark, SF).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getInt(5), r.getLong(6), r.getInt(7))).toSet
    val mk = Tables.documents(spark, SF)
      .filter(col("doc_id") % mod === 0)
      .select("doc_id", "source", "text").as[(Long, String, String)].collect()
      .map { case (id, src, t) => SrcDoc(id, src, t) }.toSeq
    val (h1, h2) = mk.splitAt(mk.length / 2)
    val ms = MemoryStream[SrcDoc]
    val buf = scala.collection.mutable.ArrayBuffer[(Long, String, Long, Long, Double, Int, Long, Int)]()
    val ckBefore = CheckpointRegistry.liveCount
    val q = StreamOps.serve(ms.toDF(), StreamOps.admit) { out =>
      buf ++= out.collect().map(r => (r.getLong(0), r.getString(1),
        r.getLong(2), r.getLong(3), r.getDouble(4), r.getInt(5),
        r.getLong(6), r.getInt(7)))
    }.start()
    try {
      ms.addData(h1); q.processAllAvailable()
      ms.addData(h2); q.processAllAvailable()
      // re-delivery: the artifacts own all persistence, so replaying a
      // chunk emits the identical records (idempotent per doc)
      ms.addData(h1); q.processAllAvailable()
    } finally { q.stop() }
    // each batch's candidate checkpoint died with its batch — an
    // always-on stream must not accumulate blocks
    assert(CheckpointRegistry.liveCount === ckBefore,
      "streaming admission leaked checkpoint registrations")
    assert(buf.nonEmpty)
    // union over micro-batches (with the re-delivered chunk collapsing
    // by set semantics) ≡ the batch capstone
    assert(buf.toSet === want)
    // and the re-delivered chunk produced no CONFLICTING record
    assert(buf.groupBy(_._1).forall { case (_, rs) => rs.toSet.size === 1 })
  }

  test("admission serving with scheduled maintenance ≡ sequential batch lifecycle") {
    implicit val ctx = spark.sqlContext
    val mod = DedupOps.IncrSplitMod
    type Rec = (Long, String, Long, Long, Double, Int, Long, Int)
    def shot(df: org.apache.spark.sql.DataFrame): Set[Rec] =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getInt(5), r.getLong(6), r.getInt(7))).toSet
    val compactAt = DedupOps.IndexBuckets + 1 // first append trips it
    def maintain(recs: Set[Rec], chunk: Seq[SrcDoc]): Unit = {
      import spark.implicits._
      val admitted = recs.filter(_._8 == 1).map(_._1).toSeq
      val t = chunk.toDF("doc_id", "source", "text")
        .select(col("doc_id"), col("source"),
          graft.text.Text.tokens(col("text")).as("toks")).cache()
      try DedupOps.admissionMaintain(spark, t,
        admitted.toDF("doc_id"), compactAt)
      finally t.unpersist(blocking = false)
    }
    val mk = Tables.documents(spark, SF)
      .filter(col("doc_id") % mod === 0)
      .select("doc_id", "source", "text").as[(Long, String, String)].collect()
      .map { case (id, src, t) => SrcDoc(id, src, t) }.toSeq
    val (h1, rest) = mk.splitAt(mk.length / 3)
    val (h2base, h3) = rest.splitAt(rest.length / 2)

    // ---- sequential batch lifecycle: probe, then fold admissions in ----
    DedupOps.q122Write(spark, SF)
    val rec1 = CheckpointRegistry.scoped { shot(DedupOps.q122Probe(spark,
      spark.createDataFrame(h1).toDF("doc_id", "source", "text"))) }
    // an exact copy of an ADMITTED h1 doc arrives later: maintained
    // serving must catch it as a near-dup of the h1 admission — the
    // cross-batch effect plain admitServe cannot produce
    val donor = h1.find(d => rec1.exists(r => r._1 == d.doc_id && r._8 == 1)).get
    val synth = SrcDoc(10000000L, donor.source, donor.text)
    val h2 = h2base :+ synth
    maintain(rec1, h1)
    val rec2 = CheckpointRegistry.scoped { shot(DedupOps.q122Probe(spark,
      spark.createDataFrame(h2).toDF("doc_id", "source", "text"))) }
    maintain(rec2, h2)
    val rec3 = CheckpointRegistry.scoped { shot(DedupOps.q122Probe(spark,
      spark.createDataFrame(h3).toDF("doc_id", "source", "text"))) }
    maintain(rec3, h3)
    val synthRec = rec2.find(_._1 == synth.doc_id).get
    assert(synthRec._6 === 1, s"synthetic copy not flagged near-dup: $synthRec")
    assert(synthRec._8 === 0, "near-dup must not be admitted")
    // the lifecycle compacted at least once ⇒ generations advanced
    assert(DedupOps.G108Shingles.gen(spark) >= 1L)

    // ---- the maintained stream over the same chunks ----
    DedupOps.q122Write(spark, SF) // fresh snapshot artifacts
    val ms = MemoryStream[SrcDoc]
    val batches = scala.collection.mutable.ArrayBuffer[Set[Rec]]()
    val ckBefore = CheckpointRegistry.liveCount
    val q = StreamOps.serve(ms.toDF(), StreamOps.admitMaintained(compactAt)) { out =>
      batches += shot(out)
    }.start()
    try {
      ms.addData(h1); q.processAllAvailable()
      ms.addData(h2); q.processAllAvailable()
      ms.addData(h3); q.processAllAvailable()
    } finally { q.stop() }
    assert(CheckpointRegistry.liveCount === ckBefore,
      "maintained serving leaked checkpoint registrations")
    assert(batches.length === 3)
    assert(batches(0) === rec1)
    assert(batches(1) === rec2)
    assert(batches(2) === rec3)

    // ---- index-content equivalence: maintained artifact ≡ fresh build
    // over snapshot ∪ admitted (probes bit-identical, post-compaction) ----
    val probeBatch = DedupOps.docShingles(spark, SF)
      .filter(size(col("shs")) > 0)
      .filter(col("doc_id") % mod === 0).limit(50).cache()
    val maintained = CheckpointRegistry.scoped {
      DedupOps.q108Probe(spark, probeBatch).collect().toList }
    val admittedIds = (rec1 ++ rec2 ++ rec3).filter(_._8 == 1).map(_._1)
    import spark.implicits._
    val union = DedupOps.docShingles(spark, SF)
      .filter(size(col("shs")) > 0)
      .filter(col("doc_id") % mod =!= 0)
      .unionByName(
        spark.createDataFrame(h1 ++ h2 ++ h3).toDF("doc_id", "source", "text")
          .join(admittedIds.toSeq.toDF("doc_id"), "doc_id")
          .select(col("doc_id"), array_distinct(
            graft.text.Text.shingles(graft.text.Text.tokens(col("text")), 3)).as("shs"))
          .filter(size(col("shs")) > 0))
    DedupOps.q108Write(spark, union)
    val fresh = CheckpointRegistry.scoped {
      DedupOps.q108Probe(spark, probeBatch).collect().toList }
    assert(maintained === fresh)
    probeBatch.unpersist()
  }

  test("streaming BM25 serving ≡ batch probe; maintained stats follow the arrivals") {
    implicit val ctx = spark.sqlContext
    import graft.operators.{DedupOps, TextOps}
    val mod = DedupOps.IncrSplitMod
    val toks = Tables.documents(spark, SF)
      .select(col("doc_id"), graft.text.Text.tokens(col("text")).as("toks"))
    TextOps.q130Write(spark, toks.filter(col("doc_id") % mod =!= 0))
    val arr = Tables.documents(spark, SF).filter(col("doc_id") % mod === 0)
      .select("doc_id", "text").as[(Long, String)].collect()
      .map { case (id, t) => (id, t) }.toSeq
    val (b1, b2) = arr.splitAt(arr.length / 2)
    def shot(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
    def toksOf(vs: Seq[(Long, String)]) = spark.createDataFrame(vs)
      .toDF("doc_id", "text")
      .select(col("doc_id"), graft.text.Text.tokens(col("text")).as("toks"))

    // sequential reference: probe as-of arrival, then fold the batch in
    val want1 = shot(TextOps.q130Probe(spark, toksOf(b1), TextOps.Bm25Query))
    TextOps.q130Append(spark, toksOf(b1))
    val want2 = shot(TextOps.q130Probe(spark, toksOf(b2), TextOps.Bm25Query))

    // maintained stream over the same batches (fresh artifact)
    TextOps.q130Write(spark, toks.filter(col("doc_id") % mod =!= 0))
    val gen0 = TextOps.G130Df.gen(spark)
    val ms = MemoryStream[(Long, String)]
    val batches = scala.collection.mutable.ArrayBuffer[List[(Long, Long, Double)]]()
    val ckBefore = CheckpointRegistry.liveCount
    // threshold low enough that the b1 append trips a compaction of the
    // df index before b2 is scored
    val q = StreamOps.serve(ms.toDF().toDF("doc_id", "text"),
        StreamOps.bm25(TextOps.Bm25Query, compactAtFiles = 1)) { out =>
      batches += shot(out) }.start()
    try {
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable()
    } finally { q.stop() }
    assert(CheckpointRegistry.liveCount === ckBefore,
      "bm25 serving leaked checkpoint registrations")
    assert(batches.length === 2)
    assert(batches(0) === want1)
    assert(batches(1) === want2)
    // the df side compacted: an always-on stream's appends stay bounded
    assert(TextOps.G130Df.gen(spark) > gen0, "the df index never compacted")
    // and so did the totals side: its per-batch rows summed back to one
    assert(spark.table("g130_totals").count() === 1L,
      "the totals table kept one row per batch")
    // maintenance is visible: b1's arrival moved the stats b2 was
    // scored under (df/avgdl drift), so scoring b2 against the ORIGINAL
    // snapshot differs somewhere — if it didn't, maintenance was a
    // no-op and the test is vacuous
    TextOps.q130Write(spark, toks.filter(col("doc_id") % mod =!= 0))
    val unmaintained = shot(TextOps.q130Probe(spark, toksOf(b2), TextOps.Bm25Query))
    assert(unmaintained !== want2,
      "maintained and frozen stats scored b2 identically — split too coarse")
  }

  test("streaming segmentation ≡ merge replay per batch; OOV arrivals segment like the shipped tokenizer") {
    implicit val ctx = spark.sqlContext
    import graft.operators.BpeOps
    // the shipped tokenizer: the corpus-trained merge table
    val merges = BpeOps.train(spark, SF)._1
    assert(merges.nonEmpty)
    val docs = Tables.documents(spark, SF).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).take(40).toSeq
    // an arrival the trainer NEVER saw: an out-of-vocabulary token —
    // the case a precomputed corpus mapping cannot serve
    val oov = (900001L, "zzqv zzqv the")
    val ms = MemoryStream[(Long, String)]
    val batches = scala.collection.mutable.ArrayBuffer[
      List[(Long, Long, Long, Long, Double)]]()
    val q = StreamOps.serve(ms.toDF().toDF("doc_id", "text"),
        StreamOps.segment(merges)) { out =>
      batches += out.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getDouble(4))).toList
    }.start()
    try {
      ms.addData(docs); q.processAllAvailable()
      ms.addData(Seq(oov)); q.processAllAvailable()
    } finally { q.stop() }
    assert(batches.length === 2)
    // local replay: every token (seen or not) segments via applyMerges
    val re = "[a-z0-9]+".r
    def halfAway(p: Long, qq: Long): Long = (2 * p + qq) / (2 * qq)
    def replay(id: Long, text: String) = {
      val ts = re.findAllIn(text.toLowerCase).toSeq
      val units = ts.map(t => BpeOps.applyMerges(t, merges).length.toLong).sum
      val chars = ts.map(_.length.toLong).sum
      (id, ts.length.toLong, units, chars,
        halfAway(units * 1000000L, chars) / 1e6)
    }
    assert(batches(0).toSet === docs.map { case (id, t) => replay(id, t) }.toSet)
    assert(batches(1) === List(replay(oov._1, oov._2)))
    // the OOV token really is out of vocabulary AND really segments —
    // its unit count must come from the merge replay, not a lookup.
    // Checked against the FULL training corpus (the merges trained on
    // every doc, not the 40-doc stream sample — r10 review)
    val corpusToks = Tables.documents(spark, SF).select("text").collect()
      .flatMap(r => re.findAllIn(r.getString(0).toLowerCase)).toSet
    assert(!corpusToks.contains("zzqv"))
    assert(batches(1).head._3 ===
      (BpeOps.applyMerges("zzqv", merges).length * 2 +
        BpeOps.applyMerges("the", merges).length).toLong)
  }

  test("streaming context chunking ≡ batch q157 on the split; OOV doc chunks by merge replay") {
    implicit val ctx = spark.sqlContext
    import graft.operators.BpeOps
    val merges = BpeOps.train(spark, SF)._1
    assert(merges.nonEmpty)
    val docs = Tables.documents(spark, SF).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).take(40).toSeq
    // an arrival with out-of-vocabulary tokens, long enough to CHUNK
    // (> one budget window of character-fallback units)
    val oov = (900001L,
      (1 to 30).map(i => s"zzqv$i").mkString(" ") + " the quick")
    val ms = MemoryStream[(Long, String)]
    type ChunkRow = (Long, Long, Long, Long, Long, Long, String)
    val batches = scala.collection.mutable.ArrayBuffer[List[ChunkRow]]()
    val q = StreamOps.serve(ms.toDF().toDF("doc_id", "text"),
        StreamOps.chunk(merges)) { out =>
      batches += out.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
        r.getString(6))).toList
    }.start()
    try {
      ms.addData(docs.take(25)); q.processAllAvailable()
      ms.addData(docs.drop(25)); q.processAllAvailable()
      ms.addData(Seq(oov)); q.processAllAvailable()
    } finally { q.stop() }
    assert(batches.length === 3)
    // union over micro-batches ≡ batch q157 restricted to the split:
    // chunking is per-doc (the start-offset window runs inside a doc),
    // so WHICH batch a doc arrived in cannot move a chunk boundary
    val streamed = (batches(0) ++ batches(1)).toSet
    val batch = BpeOps.q157(spark, SF).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getString(6)))
      .filter(r => docs.map(_._1).toSet.contains(r._1)).toSet
    assert(streamed === batch)
    // the OOV doc: local replay with the SAME merge-replay pricing —
    // fallback-priced tokens chunk exactly as the shipped tokenizer
    // would chunk them, and the doc really spans budget windows
    val re = "[a-z0-9]+".r
    val ts = re.findAllIn(oov._2.toLowerCase).toSeq
    val units = ts.map(t => BpeOps.applyMerges(t, merges).length.toLong)
    var cum = 0L
    val expectOov = ts.zipWithIndex.map { case (t, i) =>
      val start = cum; cum += units(i)
      (start / BpeOps.ChunkUnitBudget, i + 1L, t, units(i))
    }.groupBy(_._1).map { case (cid, rs) =>
      (oov._1, cid, rs.map(_._2).min, rs.map(_._2).max, rs.length.toLong,
        rs.map(_._4).sum, rs.map(_._3).mkString(" "))
    }.toSet
    assert(batches(2).toSet === expectOov)
    assert(expectOov.size > 1, "OOV doc must span more than one chunk")
    val corpusToks = Tables.documents(spark, SF).select("text").collect()
      .flatMap(r => re.findAllIn(r.getString(0).toLowerCase)).toSet
    assert(!corpusToks.contains("zzqv1"))
  }

  test("decontamServe: the eval-overlap gate at the arrival seam drops exactly the q173-rule chunks") {
    implicit val ctx = spark.sqlContext
    import graft.operators.{BpeOps, PipelineOps}
    val merges = BpeOps.train(spark, SF)._1
    val benchSh = PipelineOps.benchShingles(spark, SF)
    // the split: ordinary docs + a PLANTED contaminated arrival — a new
    // doc quoting a benchmark doc verbatim (the leak the gate exists for)
    val corpus = Tables.documents(spark, SF).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val benchDoc = corpus.filter(_._1 % 97 == 0)
      .maxBy(_._2.split("\\s+").length)
    assert(benchDoc._2.split("\\s+").length >= 20,
      "premise: a quotable benchmark doc exists at this SF")
    val planted = (900001L, benchDoc._2)
    val docs = corpus.filterNot(_._1 % 97 == 0).take(24).toSeq
    val batchesIn = Seq(docs.take(12), docs.drop(12) :+ planted)

    // the same split through the ungated and gated chunk serves
    def run(gated: Boolean): List[(Long, Long, String)] = {
      val ms = MemoryStream[(Long, String)]
      val got = scala.collection.mutable.ArrayBuffer[(Long, Long, String)]()
      val sink = (out: org.apache.spark.sql.DataFrame) => {
        got ++= out.select("doc_id", "chunk_id", "text_chunk").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        ()
      }
      val w = if (gated)
        StreamOps.serve(ms.toDF().toDF("doc_id", "text"),
          StreamOps.chunk(merges, Some(benchSh)))(sink)
      else StreamOps.serve(ms.toDF().toDF("doc_id", "text"),
        StreamOps.chunk(merges))(sink)
      val q = w.start()
      try batchesIn.foreach { b => ms.addData(b); q.processAllAvailable() }
      finally q.stop()
      got.toList
    }
    val all = run(gated = false)
    val kept = run(gated = true)
    // driver-side replay of the q173 rule over the ungated chunks
    val re = "[a-z0-9]+".r
    val k = PipelineOps.ContamShingleK
    def grams(ts: Seq[String]): Set[String] =
      if (ts.length < k) Set.empty
      else ts.sliding(k).map(_.mkString(" ")).toSet
    val bench = corpus.filter(_._1 % 97 == 0)
      .flatMap(r => grams(re.findAllIn(r._2.toLowerCase).toSeq)).toSet
    val flagged = all.filter { case (_, _, tc) =>
      (grams(tc.split(" ").toSeq) intersect bench).size >=
        PipelineOps.ContamMinShared
    }.map(r => (r._1, r._2)).toSet
    // the gate drops EXACTLY the rule's chunks — nothing more, nothing less
    assert(kept.map(r => (r._1, r._2)).toSet ===
      all.map(r => (r._1, r._2)).toSet -- flagged)
    // the planted arrival was caught at the seam (≥ its main chunks) and
    // ordinary docs' clean chunks all served
    assert(flagged.exists(_._1 === planted._1),
      "the planted benchmark quote must flag at the seam")
    assert(kept.map(_._1).toSet.intersect(docs.map(_._1).toSet).nonEmpty)

    // packServeDecontam: the GATED shard stream never carries flagged
    // chunks or their mass, and stays gapless over what it packed
    val ms = MemoryStream[(Long, String)]
    type PackRow = (Long, Long, Long, Long, Long, Long)
    val packed = scala.collection.mutable.ArrayBuffer[PackRow]()
    val q = StreamOps.packServeDecontam(
        ms.toDF().toDF("doc_id", "text"), merges, benchSh) { p =>
      packed ++= p.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      ()
    }.start()
    try batchesIn.foreach { b => ms.addData(b); q.processAllAvailable() }
    finally q.stop()
    assert(packed.map(r => (r._1, r._2)).toSet ===
      all.map(r => (r._1, r._2)).toSet -- flagged)
    packed.toList.sliding(2).foreach {
      case List(a, b) => assert(b._5 === a._5 + b._4, "gapless over gated")
      case _ => ()
    }
    assert(packed.map(_._4).sum === packed.lastOption.map(_._5).getOrElse(0L))
  }

  test("streaming sequence packing: batched fold ≡ local replay, open-shard append, order-only divergence from rebuild") {
    implicit val ctx = spark.sqlContext
    import graft.operators.{BpeOps, PipelineOps}
    val merges = BpeOps.train(spark, SF)._1
    val docs = Tables.documents(spark, SF).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).take(30).toSeq
    val oov = (900001L, (1 to 20).map(i => s"zzqw$i").mkString(" "))
    val batchesIn = Seq(docs.take(12), docs.slice(12, 30), Seq(oov))
    val base = 12345L // rebuild→serve handoff: continue a prior stream
    val ms = MemoryStream[(Long, String)]
    type PackRow = (Long, Long, Long, Long, Long, Long)
    val out = scala.collection.mutable.ArrayBuffer[List[PackRow]]()
    val q = StreamOps.serve(ms.toDF().toDF("doc_id", "text"),
        StreamOps.pack(merges), StreamOps.ServeState(base)) { p =>
      out += p.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toList
    }.start()
    try batchesIn.foreach { b => ms.addData(b); q.processAllAvailable() }
    finally q.stop()
    assert(out.length === 3)
    // local replay of the batched fold: per batch, chunk every doc with
    // applyMerges prices, order by (bkey, doc, chunk), run the carried
    // offset, shard = start-offset rule
    val re = "[a-z0-9]+".r
    def bkey(id: Long, cid: Long): BigInt = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"ord:$id:$cid".getBytes("UTF-8"))
      BigInt(md.map("%02x".format(_)).mkString.take(15), 16)
    }
    def chunksOf(id: Long, text: String): Seq[(Long, Long, Long, Long)] = {
      val ts = re.findAllIn(text.toLowerCase).toSeq
      val units = ts.map(t => BpeOps.applyMerges(t, merges).length.toLong)
      var cum = 0L
      ts.indices.map { i =>
        val start = cum; cum += units(i)
        (start / BpeOps.ChunkUnitBudget, i + 1L, units(i), 1L)
      }.groupBy(_._1).toSeq.map { case (cid, rs) =>
        (id, cid, rs.length.toLong, rs.map(_._3).sum)
      }
    }
    var carried = base
    val replay = batchesIn.map { b =>
      val cs = b.flatMap { case (id, t) => chunksOf(id, t) }
        .sortBy { case (id, cid, _, _) => (bkey(id, cid), id, cid) }
      cs.map { case (id, cid, nt, nu) =>
        carried += nu
        (id, cid, nt, nu, carried,
          (carried - nu) / PipelineOps.ShardUnitBudget)
      }.toList
    }
    assert(out.toList === replay)
    // the fold is gapless: Σ masses == final offset − base, and cum is
    // strictly increasing ACROSS batch boundaries (append semantics)
    val all: List[PackRow] = out.toList.flatten
    assert(all.map(_._4).sum === all.last._5 - base)
    all.sliding(2).foreach {
      case List(a, b) => assert(b._5 === a._5 + b._4, "gapless cum")
      case _ => ()
    }
    // open-shard append: batch 2 starts in (or after) batch 1's last
    // shard, never before — emitted rows are never re-sharded
    assert(out(1).head._6 >= out(0).last._6)
    // budget bound at every shard, incl. across-batch continuations
    val maxChunk = all.map(_._4).max
    all.groupBy(_._6).values.foreach { ss =>
      assert(ss.map(_._4).sum <= PipelineOps.ShardUnitBudget + maxChunk - 1)
    }
    // rebuild-vs-serve divergence is ORDER ONLY: chunk membership and
    // masses equal a single batch chunking of the same docs
    val streamedMass = all.map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    val batchMass = (docs.take(30) ++ Seq(oov))
      .flatMap { case (id, t) => chunksOf(id, t) }
      .map(c => (c._1, c._2) -> (c._3, c._4)).toMap
    assert(streamedMass === batchMass)
    // AT-LEAST-ONCE: a re-delivered batchId re-packs at its ORIGINAL
    // base — byte-identical rows, offset untouched (foreachBatch's
    // failure-retry window; driven through the fold's step directly
    // because MemoryStream's happy path never re-delivers)
    import spark.implicits._
    val st = StreamOps.ServeState(500L)
    def drive(b: Seq[(Long, String)], id: Long): List[PackRow] = {
      var got: List[PackRow] = null
      StreamOps.pack(merges).step(b.toDF("doc_id", "text"), st, id) { p =>
        got = p.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toList
      }
      got
    }
    val first = drive(docs.take(6), 0L)
    val offAfterFirst = st.offset
    assert(drive(docs.take(6), 0L) === first, "re-delivery must be idempotent")
    assert(st.offset === offAfterFirst, "re-delivery must not advance")
    // a FRESH batch enters at the advanced offset and moves it by
    // exactly its own mass
    assert(first.head._5 - first.head._4 === 500L, "baseOffset handoff")
    assert(offAfterFirst === 500L + first.map(_._4).sum)
    val second = drive(docs.slice(6, 10), 1L)
    assert(second.head._5 - second.head._4 === offAfterFirst)
    assert(st.offset === offAfterFirst + second.map(_._4).sum)
  }

  test("streaming multimodal packing: fold ≡ local geometry replay, interleaved modalities, idempotent re-delivery") {
    implicit val ctx = spark.sqlContext
    import graft.operators.{BpeOps, PipelineOps}
    val merges = BpeOps.train(spark, SF)._1
    val docs = Tables.documents(spark, SF).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).take(24).toSeq
    val batchesIn = Seq(docs.take(10), docs.slice(10, 24))
    val base = 777L
    val ms = MemoryStream[(Long, String)]
    type MmRow = (Long, Long, String, String, Long, Long, Long)
    def rowsOf(p: org.apache.spark.sql.DataFrame): List[MmRow] =
      p.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3), r.getLong(4), r.getLong(5), r.getLong(6))).toList
    val out = scala.collection.mutable.ArrayBuffer[List[MmRow]]()
    val q = StreamOps.serve(ms.toDF().toDF("doc_id", "text"),
        StreamOps.mmPack(merges), StreamOps.ServeState(base)) { p => out += rowsOf(p) }
      .start()
    try batchesIn.foreach { b => ms.addData(b); q.processAllAvailable() }
    finally q.stop()
    assert(out.length === 2)
    // local replay: text chunks priced by merge replay (the text pack
    // test's rule), image/audio rows by the q196 geometry over byte
    // length, interleaved on md5("mm:modality:doc:seq") with the
    // (modality, doc, seq) tiebreak, carried offset, start-offset shard
    val re = "[\\p{L}\\p{N}]+".r
    def mmkey(mod: String, id: Long, seq: Long): BigInt = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"mm:$mod:$id:$seq".getBytes("UTF-8"))
      BigInt(md.map("%02x".format(_)).mkString.take(15), 16)
    }
    def textRows(id: Long, text: String): Seq[(Long, String, String, Long)] = {
      val ts = re.findAllIn(text.toLowerCase).toSeq
      val units = ts.map(t => BpeOps.applyMerges(t, merges).length.toLong)
      var cum = 0L
      ts.indices.map { i =>
        val start = cum; cum += units(i)
        (start / BpeOps.ChunkUnitBudget, units(i))
      }.groupBy(_._1).toSeq.map { case (cid, rs) =>
        (cid, "text", s"txt://$id:$cid", rs.map(_._2).sum)
      }
    }
    def geoRows(id: Long, text: String): Seq[(Long, String, String, Long)] = {
      val nb = text.getBytes("UTF-8").length.toLong
      val h = math.max((nb + 31) / 32, 1L)
      val img = if (id % PipelineOps.MmImgMod == 0)
        Seq((0L, "image", s"img://$id", 2L * ((h + 15) / 16))) else Seq()
      val aud = if (id % PipelineOps.MmAudMod == 0)
        Seq((0L, "audio", s"wav://$id",
          (nb + PipelineOps.MmHop - 1) / PipelineOps.MmHop)) else Seq()
      img ++ aud
    }
    var carried = base
    val replay = batchesIn.map { b =>
      val rs = b.flatMap { case (id, t) =>
        (textRows(id, t) ++ geoRows(id, t)).map { case (sq, m, loc, nu) =>
          (id, sq, m, loc, nu) } }
        .sortBy { case (id, sq, m, _, _) => (mmkey(m, id, sq), m, id, sq) }
      rs.map { case (id, sq, m, loc, nu) =>
        carried += nu
        (id, sq, m, loc, nu, carried,
          (carried - nu) / PipelineOps.ShardUnitBudget)
      }.toList
    }
    assert(out.toList === replay)
    // modalities genuinely interleave in the served stream
    assert(out.flatten.map(_._3).toSet === Set("text", "image", "audio"))
    // gapless across batches; offsets strictly advance
    val all = out.toList.flatten
    assert(all.map(_._5).sum === all.last._6 - base)
    // no payload bytes in the schema — locator strings only
    assert(all.forall(r => r._4.length < 64))
    // re-delivery at the ORIGINAL base, byte-identical, offset untouched
    val st = StreamOps.ServeState(100L)
    var got1: List[MmRow] = null
    StreamOps.mmPack(merges).step(docs.take(5).toDF("doc_id", "text"), st, 0L) {
      p => got1 = rowsOf(p) }
    val off1 = st.offset
    var got2: List[MmRow] = null
    StreamOps.mmPack(merges).step(docs.take(5).toDF("doc_id", "text"), st, 0L) {
      p => got2 = rowsOf(p) }
    assert(got2 === got1, "re-delivery must be idempotent")
    assert(st.offset === off1, "re-delivery must not advance")
  }

  test("serve-vs-rebuild manifest reconciliation: one-batch serve ≡ static q159, multi-batch totals exact") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    import graft.operators.{BpeOps, PipelineOps}
    val merges = BpeOps.train(spark, SF)._1
    // the rebuild's membership: q158's mixture-sampled docs (every one
    // has >= 1 chunk), with lang/text pulled from the documents table
    val memberIds = PipelineOps.q158(spark, SF).collect()
      .map(_.getLong(0)).distinct.toSet
    val docRows = Tables.documents(spark, SF)
      .select("doc_id", "lang", "text").collect()
      .filter(r => memberIds(r.getLong(0)))
    val members = docRows.map(r => (r.getLong(0), r.getString(2))).toSeq
    val langDf = docRows.map(r => (r.getLong(0), r.getString(1))).toSeq
      .toDF("doc_id", "lang")
    val static = PipelineOps.q159(spark, SF).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toList
    type PackRow = (Long, Long, Long, Long, Long, Long)
    def serve(batchesIn: Seq[Seq[(Long, String)]]): List[List[PackRow]] = {
      val ms = MemoryStream[(Long, String)]
      val out = scala.collection.mutable.ArrayBuffer[List[PackRow]]()
      val q = StreamOps.serve(ms.toDF().toDF("doc_id", "text"),
          StreamOps.pack(merges), StreamOps.ServeState()) { p =>
        out += p.collect().map(r => (r.getLong(0), r.getLong(1),
          r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toList
      }.start()
      try batchesIn.foreach { b => ms.addData(b); q.processAllAvailable() }
      finally q.stop()
      out.toList
    }
    // the reconciliation runs the SAME aggregate as q159 over the
    // served rows (sequenceManifestOf — one definition, not a copy);
    // lang is a doc attribute the loader-facing pack stream does not
    // carry, joined back from the doc table on the known membership
    def manifestOf(rows: List[(Long, Long, Long, Long, Long, Long)]) =
      PipelineOps.sequenceManifestOf(
        rows.toDF("doc_id", "chunk_id", "n_tokens", "n_units",
          "cum_units", "shard").join(langDf, "doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toList
    // ONE batch at baseOffset 0 holding the whole membership arrives in
    // the rebuild's own md5-bkey order (the per-batch PrefixSum IS the
    // global one when the batch is the corpus) -> the served manifest
    // equals the static rebuild's EXACTLY, shard boundaries included
    val one = serve(Seq(members))
    assert(manifestOf(one.flatten) === static)
    // MULTI-batch: arrival order diverges from the global bkey order,
    // so shard BOUNDARIES may move — but membership and masses are
    // order-independent: total sequences, units, doc fingerprints, and
    // the final end offset must reconcile exactly
    val split = Seq(members.take(members.size / 3),
      members.slice(members.size / 3, 2 * members.size / 3),
      members.drop(2 * members.size / 3))
    val multi = serve(split)
    val served = manifestOf(multi.flatten)
    def totals(m: List[(Long, Long, Long, Long, Long, Long, Long)]) =
      (m.map(_._2).sum, m.map(_._5).sum, m.map(_._6).max, m.map(_._7).sum)
    assert(totals(served) === totals(static))
    // per-shard budget bound survives the arrival seam (incl. shards
    // continued across batch boundaries)
    val allRows = multi.flatten
    val maxChunk = allRows.map(_._4).max
    served.foreach { s =>
      assert(s._5 <= PipelineOps.ShardUnitBudget + maxChunk - 1,
        s"shard ${s._1} mass ${s._5} over budget")
    }
    // the open-shard continuation really happened: batch 1 ends mid-
    // shard on this corpus, and batch 2's first rows append to THAT
    // shard id (never re-shard, never skip)
    assert(multi(0).last._5 % PipelineOps.ShardUnitBudget !== 0L,
      "test premise: batch 1 must end mid-shard")
    assert(multi(1).head._6 === multi(0).last._6,
      "continuation batch must append to the open shard")
  }

  test("packServeResumable: kill-and-resume from the persisted state ≡ the uninterrupted stream") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    import graft.operators.BpeOps
    import StreamOps.ServeState
    val merges = BpeOps.train(spark, SF)._1
    val docs = Tables.documents(spark, SF).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).take(18).toSeq
    val batches = Seq(docs.take(6), docs.slice(6, 12), docs.drop(12))
    val tmpDir = Standing.dir(spark, "packstate")
    tmpDir.mkdirs()
    def stateFile(n: String) = new java.io.File(tmpDir, n)
    def text(f: java.io.File) =
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    // drive one micro-batch the way serve's foreachBatch does — the
    // fold's step, then the state's atomic commit (driven directly:
    // MemoryStream cannot survive a process death, so the replay is
    // emulated at the exact seam the wrapper wires)
    def drive(state: ServeState, b: Seq[(Long, String)], id: Long)
        : List[(Long, Long, Long, Long, Long, Long)] = {
      var got: List[(Long, Long, Long, Long, Long, Long)] = null
      StreamOps.pack(merges).step(b.toDF("doc_id", "text"), state, id) { p =>
        got = p.collect().map(r => (r.getLong(0), r.getLong(1),
          r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toList
      }
      state.commit()
      got
    }
    // uninterrupted reference stream: three batches, one state
    val fRef = stateFile("ref.json")
    val stRef = ServeState.resume(fRef)
    val ref = batches.zipWithIndex.map { case (b, i) =>
      drive(stRef, b, i.toLong) }
    // the killed run: batches 0–1, then process death
    val fKill = stateFile("kill.json")
    assert(!fKill.isFile, "fresh stream premise")
    val st1 = ServeState.resume(fKill)
    assert(drive(st1, batches(0), 0L) === ref(0))
    assert(drive(st1, batches(1), 1L) === ref(1))
    // resume in a "new process": the state is rebuilt from the FILE
    // (ServeState.resume), st1 is gone
    val st2 = ServeState.resume(fKill)
    val loadedOffset = st2.offset
    // worst case first: the last committed batch is re-delivered (died
    // before the stream checkpoint committed) — byte-identical replay
    // at its original base, offset untouched
    assert(drive(st2, batches(1), 1L) === ref(1))
    assert(st2.offset === loadedOffset, "re-delivery must not advance")
    // then the fresh batch continues the uninterrupted stream exactly,
    // and the two state files converge byte-for-byte
    assert(drive(st2, batches(2), 2L) === ref(2))
    assert(text(fKill) === text(fRef))
    // the real foreachBatch wiring persists too: a one-batch resumable
    // stream leaves (offset = batch mass, last_id = 0) behind
    val fLive = stateFile("live.json")
    val ms = MemoryStream[(Long, String)]
    val q = StreamOps.serve(ms.toDF().toDF("doc_id", "text"),
      StreamOps.pack(merges), ServeState.resume(fLive))(_.count()).start()
    try { ms.addData(batches(0)); q.processAllAvailable() } finally q.stop()
    val live = ServeState.resume(fLive)
    assert(live.last._1 === 0L)
    assert(live.offset === ref(0).map(_._4).sum)
    // the on-disk format is pinned: exactly this line, and a line in
    // this format loads into the state it names and re-commits unchanged
    assert(text(fLive) ===
      s"""{"offset":${ref(0).map(_._4).sum},"last_id":0,"last_base":0}""")
    val fLit = stateFile("literal.json")
    val lit = """{"offset":5150,"last_id":7,"last_base":4020}"""
    graft.GenManifest.atomicWrite(fLit, lit)
    val fromLit = ServeState.resume(fLit)
    assert(!fromLit.ranked)
    assert(fromLit.offset === 5150L && fromLit.last === ((7L, 4020L, 0L)))
    assert(fromLit.claim(7L) === ((4020L, 0L)), "re-delivery of last_id")
    fromLit.commit()
    assert(text(fLit) === lit)
  }

  test("mmPackServeResumable: kill-and-resume from the persisted state ≡ the uninterrupted mm stream") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    import graft.operators.BpeOps
    import StreamOps.ServeState
    val merges = BpeOps.train(spark, SF)._1
    val docs = Tables.documents(spark, SF).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).take(18).toSeq
    val batches = Seq(docs.take(6), docs.slice(6, 12), docs.drop(12))
    val tmpDir = Standing.dir(spark, "mmpackstate")
    tmpDir.mkdirs()
    def stateFile(n: String) = new java.io.File(tmpDir, n)
    def text(f: java.io.File) =
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    type MmRow = (Long, Long, String, String, Long, Long, Long)
    // drive one micro-batch the way serve's foreachBatch does — the mm
    // fold's step, then the state's atomic commit
    def drive(state: ServeState, b: Seq[(Long, String)], id: Long)
        : List[MmRow] = {
      var got: List[MmRow] = null
      StreamOps.mmPack(merges).step(b.toDF("doc_id", "text"), state, id) { p =>
        got = p.collect().map(r => (r.getLong(0), r.getLong(1),
          r.getString(2), r.getString(3), r.getLong(4), r.getLong(5),
          r.getLong(6))).toList
      }
      state.commit()
      got
    }
    val fRef = stateFile("ref.json")
    val stRef = ServeState.resume(fRef)
    val ref = batches.zipWithIndex.map { case (b, i) =>
      drive(stRef, b, i.toLong) }
    // the mm stream really interleaves: locator rows ride beside text
    assert(ref(0).exists(_._3 != "text"), "test premise: non-text rows")
    // the killed run: batches 0–1, then process death
    val fKill = stateFile("kill.json")
    assert(!fKill.isFile, "fresh stream premise")
    val st1 = ServeState.resume(fKill)
    assert(drive(st1, batches(0), 0L) === ref(0))
    assert(drive(st1, batches(1), 1L) === ref(1))
    // resume in a "new process" from the FILE
    val st2 = ServeState.resume(fKill)
    val loadedOffset = st2.offset
    // re-delivered last batch → byte-identical at the original base
    assert(drive(st2, batches(1), 1L) === ref(1))
    assert(st2.offset === loadedOffset, "re-delivery must not advance")
    // fresh batch continues the uninterrupted stream; states converge
    assert(drive(st2, batches(2), 2L) === ref(2))
    assert(text(fKill) === text(fRef))
    // the real foreachBatch wiring persists too
    val fLive = stateFile("live.json")
    val ms = MemoryStream[(Long, String)]
    val q = StreamOps.serve(ms.toDF().toDF("doc_id", "text"),
      StreamOps.mmPack(merges), ServeState.resume(fLive))(_.count()).start()
    try { ms.addData(batches(0)); q.processAllAvailable() } finally q.stop()
    val live = ServeState.resume(fLive)
    assert(live.last._1 === 0L)
    assert(live.offset === ref(0).map(_._5).sum)
  }

  test("epochTailServeResumable: kill-and-resume replays BOTH states (unit offset AND rank base) byte-identically") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    import graft.operators.BpeOps
    import StreamOps.ServeState
    val merges = BpeOps.train(spark, SF)._1
    val nGen = 1000L
    val docs = Tables.documents(spark, SF).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).take(18).toSeq
    val batches = Seq(docs.take(6), docs.slice(6, 12), docs.drop(12))
    val tmpDir = Standing.dir(spark, "eptailstate")
    tmpDir.mkdirs()
    def stateFile(n: String) = new java.io.File(tmpDir, n)
    def text(f: java.io.File) =
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    def resume(f: java.io.File) = ServeState.resume(f, ranked = true)
    type TailRow = (Long, Long, Long, Long, Long)
    // drive one micro-batch the way serve's foreachBatch does — the
    // epoch-tail fold's step, then ONE atomic two-state commit
    def drive(state: ServeState, b: Seq[(Long, String)], id: Long)
        : List[TailRow] = {
      var got: List[TailRow] = null
      StreamOps.epochTail(StreamOps.pack(merges), nGen)
          .step(b.toDF("doc_id", "text"), state, id) { p =>
        got = p.collect().map(r => (r.getLong(0), r.getLong(1),
          r.getLong(2), r.getLong(3), r.getLong(4))).toList
      }
      state.commit()
      got
    }
    val fRef = stateFile("ref.json")
    val stRef = resume(fRef)
    val ref = batches.zipWithIndex.map { case (b, i) =>
      drive(stRef, b, i.toLong) }
    // tail ranks start past the gen-N prefix and advance across batches
    assert(ref(0).forall(_._2 > nGen))
    assert(ref(1).map(_._2).min > ref(0).map(_._2).min)
    // the killed run: batches 0–1, then process death
    val fKill = stateFile("kill.json")
    assert(!fKill.isFile, "fresh premise")
    val st1 = resume(fKill)
    assert(drive(st1, batches(0), 0L) === ref(0))
    assert(drive(st1, batches(1), 1L) === ref(1))
    // resume in a "new process": BOTH offsets rebuilt from the ONE file
    // (ServeState.resume)
    val st2 = resume(fKill)
    val (loadedOffset, loadedRank) = (st2.offset, st2.rankOffset)
    // re-delivered last batch → byte-identical replay at the original
    // unit offset AND the original rank base; neither offset advances
    assert(drive(st2, batches(1), 1L) === ref(1))
    assert(st2.offset === loadedOffset, "unit offset must not advance")
    assert(st2.rankOffset === loadedRank, "rank base must not advance")
    // fresh batch continues both sequences gapless; states converge
    assert(drive(st2, batches(2), 2L) === ref(2))
    assert(text(fKill) === text(fRef))
    // the real foreachBatch wiring persists the pair atomically
    val fLive = stateFile("live.json")
    val ms = MemoryStream[(Long, String)]
    val q = StreamOps.serve(ms.toDF().toDF("doc_id", "text"),
      StreamOps.epochTail(StreamOps.pack(merges), nGen), resume(fLive))(
      _.count()).start()
    try { ms.addData(batches(0)); q.processAllAvailable() } finally q.stop()
    val live = resume(fLive)
    assert(live.last._1 === 0L)
    // rank offset advanced by the served sequence count (ranks are
    // per-epoch, so the base advances by |batch sequences|, not ×Epochs)
    val nSeqs = ref(0).map(r => (r._3, r._4)).distinct.size.toLong
    assert(live.rankOffset === nSeqs)
    // the on-disk format is pinned: exactly this five-field line (the
    // unit offset is the batch's pack mass), and a line in this format
    // loads into the state it names and re-commits unchanged
    var mass = 0L
    StreamOps.pack(merges).step(batches(0).toDF("doc_id", "text"),
      ServeState(), 0L) { p => mass = p.agg(sum("n_units")).head().getLong(0) }
    assert(text(fLive) === s"""{"offset":$mass,"last_id":0,"last_base":0,""" +
      s""""rank_offset":$nSeqs,"rank_last_base":0}""")
    val fLit = stateFile("literal.json")
    val lit = """{"offset":5150,"last_id":7,"last_base":4020,""" +
      """"rank_offset":96,"rank_last_base":80}"""
    graft.GenManifest.atomicWrite(fLit, lit)
    val fromLit = resume(fLit)
    assert(fromLit.offset === 5150L && fromLit.rankOffset === 96L)
    assert(fromLit.last === ((7L, 4020L, 80L)))
    assert(fromLit.claim(7L) === ((4020L, 80L)), "re-delivery of last_id")
    fromLit.commit()
    assert(text(fLit) === lit)
    // a pack-state line is no epoch-tail state: the missing field is named
    val fPack = stateFile("packline.json")
    graft.GenManifest.atomicWrite(fPack,
      """{"offset":5150,"last_id":7,"last_base":4020}""")
    val err = intercept[IllegalStateException](resume(fPack))
    assert(err.getMessage.contains("epoch tail state") &&
      err.getMessage.contains("'rank_offset'"))
    // and an epoch-tail line read unranked is a named error too, so no
    // commit can rewrite it without its rank fields
    val errUnranked = intercept[IllegalStateException](ServeState.resume(fLit))
    assert(errUnranked.getMessage.contains("'rank_offset'"))
    assert(text(fLit) === lit)
    // a fold and a state that disagree on ranks fail at serve, before
    // the query starts — not inside its first micro-batch
    val msBad = MemoryStream[(Long, String)].toDF().toDF("doc_id", "text")
    intercept[IllegalArgumentException](StreamOps.serve(msBad,
      StreamOps.epochTail(StreamOps.pack(merges), nGen), ServeState())(_.count()))
    intercept[IllegalArgumentException](StreamOps.serve(msBad,
      StreamOps.pack(merges), ServeState(ranked = true))(_.count()))
  }

  test("gated epochTail serve: no q173-flagged chunk is ranked; kill-and-resume from the state file replays byte-identically") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    import graft.operators.{BpeOps, PipelineOps}
    import StreamOps.ServeState
    val merges = BpeOps.train(spark, SF)._1
    val benchSh = PipelineOps.benchShingles(spark, SF)
    val nGen = 1000L
    // the decontamServe split: ordinary docs + a PLANTED arrival quoting
    // a benchmark doc verbatim
    val corpus = Tables.documents(spark, SF).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val benchDoc = corpus.filter(_._1 % 97 == 0)
      .maxBy(_._2.split("\\s+").length)
    val planted = (900001L, benchDoc._2)
    val docs = corpus.filterNot(_._1 % 97 == 0).take(24).toSeq
    val batchesIn = Seq(docs.take(12), docs.drop(12) :+ planted)
    // the ungated chunks of the split, and the q173 rule replayed over
    // them locally
    val all = scala.collection.mutable.ArrayBuffer[(Long, Long, String)]()
    val msAll = MemoryStream[(Long, String)]
    val qAll = StreamOps.serve(msAll.toDF().toDF("doc_id", "text"),
        StreamOps.chunk(merges)) { out =>
      all ++= out.select("doc_id", "chunk_id", "text_chunk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      ()
    }.start()
    try batchesIn.foreach { b => msAll.addData(b); qAll.processAllAvailable() }
    finally qAll.stop()
    val re = "[a-z0-9]+".r
    val k = PipelineOps.ContamShingleK
    def grams(ts: Seq[String]): Set[String] =
      if (ts.length < k) Set.empty
      else ts.sliding(k).map(_.mkString(" ")).toSet
    val bench = corpus.filter(_._1 % 97 == 0)
      .flatMap(r => grams(re.findAllIn(r._2.toLowerCase).toSeq)).toSet
    val flagged = all.filter { case (_, _, tc) =>
      (grams(tc.split(" ").toSeq) intersect bench).size >=
        PipelineOps.ContamMinShared
    }.map(r => (r._1, r._2)).toSet
    assert(flagged.exists(_._1 === planted._1),
      "premise: the planted benchmark quote flags at the seam")
    val kept = all.map(r => (r._1, r._2)).toSet -- flagged

    val tmpDir = Standing.dir(spark, "gatedeptail")
    tmpDir.mkdirs()
    def stateFile(n: String) = new java.io.File(tmpDir, n)
    def text(f: java.io.File) =
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    def resume(f: java.io.File) =
      ServeState.resume(f, ranked = true)
    val fold = StreamOps.epochTail(StreamOps.pack(merges, Some(benchSh)), nGen)
    type TailRow = (Long, Long, Long, Long, Long)
    def rowsOf(p: org.apache.spark.sql.DataFrame): List[TailRow] =
      p.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toList
    // the real stream: gated, file-backed, epoch-tail ranked
    val fLive = stateFile("live.json")
    val live = scala.collection.mutable.ArrayBuffer[List[TailRow]]()
    val ms = MemoryStream[(Long, String)]
    val q = StreamOps.serve(ms.toDF().toDF("doc_id", "text"), fold,
      resume(fLive)) { p => live += rowsOf(p) }.start()
    try batchesIn.foreach { b => ms.addData(b); q.processAllAvailable() }
    finally q.stop()
    // no flagged (doc_id, chunk_id) is ranked; every kept one is, in
    // every epoch, densely from nGen + 1
    val ranked = live.flatten
    (0L until PipelineOps.Epochs.toLong).foreach { e =>
      val inEpoch = ranked.filter(_._1 == e)
      assert(inEpoch.map(r => (r._3, r._4)).toSet === kept)
      assert(inEpoch.map(_._2).sorted === (nGen + 1 to nGen + kept.size))
    }
    // kill-and-resume at the step the stream runs: batch 0, process
    // death, resume from the FILE, re-deliver batch 0, then batch 1
    def drive(state: ServeState, b: Seq[(Long, String)], id: Long)
        : List[TailRow] = {
      var got: List[TailRow] = null
      fold.step(b.toDF("doc_id", "text"), state, id) { p => got = rowsOf(p) }
      state.commit()
      got
    }
    val fKill = stateFile("kill.json")
    assert(drive(resume(fKill), batchesIn(0), 0L) === live(0))
    val st2 = resume(fKill)
    assert(drive(st2, batchesIn(0), 0L) === live(0))
    assert(drive(st2, batchesIn(1), 1L) === live(1))
    assert(text(fKill) === text(fLive))
  }

  test("served batches land IN the pack artifact: partitioned append, compaction dedups re-delivery") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    import graft.operators.{BpeOps, PipelineOps}
    val merges = BpeOps.train(spark, SF)._1
    // the standing REBUILD: the static sequence pack published at gen 1
    // (a dedicated base — the registered q165 artifact must stay
    // pack-exact, appends would break its oracle)
    val base = Standing.dir(spark, "packart_serve")
    PipelineOps.Lineage.Pack.write(base, PipelineOps.q158(spark, SF))
    type Full = (Long, Long, String, Long, Long, Long, Long)
    def fullKey(r: org.apache.spark.sql.Row): Full =
      (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))
    val packRows = PipelineOps.q158(spark, SF).collect().map(fullKey)
    val endOffset = packRows.map(_._6).max // the rebuild→serve handoff
    // arrivals BETWEEN rebuilds, served at the handoff offset with the
    // artifact itself as the sink
    val arrivals = Seq(
      (910001L, (1 to 30).map(i => s"arrq$i").mkString(" ")),
      (910002L, (1 to 25).map(i => s"arrw$i").mkString(" ")))
    val langs = arrivals.map { case (id, _) => (id, "xx") }
      .toDF("doc_id", "lang")
    type Served = (Long, Long, Long, Long, Long, Long)
    val servedRows = scala.collection.mutable.ArrayBuffer[Served]()
    val ms = MemoryStream[(Long, String)]
    val q = StreamOps.serve(ms.toDF().toDF("doc_id", "text"),
        StreamOps.pack(merges), StreamOps.ServeState(endOffset)) { p =>
      val cached = p.cache() // two consumers: the append job + the probe
      try {
        PipelineOps.Lineage.Pack.appendServed(base, cached, Some(langs))
        servedRows ++= cached.collect().map(r => (r.getLong(0),
          r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))
      } finally cached.unpersist()
    }.start()
    try { ms.addData(arrivals); q.processAllAvailable() } finally q.stop()
    assert(servedRows.nonEmpty && servedRows.map(_._1).toSet ===
      arrivals.map(_._1).toSet)
    val servedFull = servedRows.map(s =>
      (s._1, s._2, "xx", s._3, s._4, s._5, s._6)).toSeq
    val expected = (packRows.toSeq ++ servedFull).sorted
    // the artifact now holds rebuild ∪ served, byte-exact
    val art = PipelineOps.Lineage.Pack.read(spark, base).collect().map(fullKey)
      .toSeq.sorted
    assert(art === expected)
    // served rows landed PARTITIONED: each served shard has its own
    // directory inside generation 1 (pruning preserved verbatim)
    servedRows.map(_._6).distinct.foreach { k =>
      assert(new java.io.File(PipelineOps.Lineage.Pack.dir(base, 1L), s"shard=$k")
        .isDirectory, s"served shard $k must land in its partition dir")
    }
    // the manifest over the ARTIFACT runs through the same aggregate as
    // the in-memory union — the q159-over-served contract on disk
    def manifestRows(df: org.apache.spark.sql.DataFrame) =
      PipelineOps.sequenceManifestOf(df).collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6))).toList
    val unionDf = expected.map(identity[(Long, Long, String, Long, Long,
      Long, Long)]).toDF("doc_id", "chunk_id", "lang", "n_tokens",
      "n_units", "cum_units", "shard")
    assert(manifestRows(PipelineOps.Lineage.Pack.read(spark, base)) ===
      manifestRows(unionDf))
    // AT-LEAST-ONCE: a re-delivered batch appends byte-identical rows
    // again (the pack fold replays at the original base) — absorbed at
    // compaction, where the one-file-per-shard layout is also restored
    PipelineOps.Lineage.Pack.appendServed(base,
      servedRows.toSeq.map(identity[(Long, Long, Long, Long, Long, Long)])
        .toDF("doc_id", "chunk_id", "n_tokens", "n_units",
          "cum_units", "shard"), Some(langs))
    assert(PipelineOps.Lineage.Pack.read(spark, base).count() ===
      (expected.size + servedRows.size).toLong)
    PipelineOps.Lineage.Pack.compact(spark, base)
    assert(graft.GenManifest.current(base, "pack") === 2L)
    assert(PipelineOps.Lineage.Pack.read(spark, base).collect().map(fullKey)
      .toSeq.sorted === expected)
    // exactly one data file per shard after compaction
    val gen2 = PipelineOps.Lineage.Pack.dir(base, 2L)
    gen2.listFiles().filter(_.getName.startsWith("shard=")).foreach { d =>
      assert(d.listFiles().count(_.getName.endsWith(".parquet")) === 1,
        s"${d.getName} must compact to one file")
    }
    // a reader pinned at generation 1 is undisturbed by the publish
    // (retained to the manifest's depth) — it still sees the duplicates
    assert(PipelineOps.Lineage.Pack.read(spark, base, Some(1L)).count() ===
      (expected.size + servedRows.size).toLong)
  }

  test("streaming drift gate ≡ q124 on the split; skewed batch flagged, representative passes") {
    implicit val ctx = spark.sqlContext
    import graft.operators.{DedupOps, PipelineOps}
    val mod = DedupOps.IncrSplitMod
    val docs = Tables.documents(spark, SF).select("doc_id", "source", "lang", "text")
    val snap = docs.filter(col("doc_id") % mod =!= 0)
    val arr = docs.filter(col("doc_id") % mod === 0)
      .as[(Long, String, String, String)].collect().toSeq
    // q124's registered readout on the same split is the expectation for
    // a batch that is EXACTLY the arrival split
    val want = PipelineOps.q124(spark, SF).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8))))
      .toMap
    val maxDelta = want.values.map(v => math.abs(v._7)).max
    val skewSource = arr.groupBy(_._2).maxBy(_._2.size)._1
    val skewed = arr.filter(_._2 == skewSource)
    val ms = MemoryStream[(Long, String, String, String)]
    val batches = scala.collection.mutable.ArrayBuffer[
      List[(String, String, Long, Long, Long, Long, Long, Long, Long, Int)]]()
    val q = StreamOps.serve(
        ms.toDF().toDF("doc_id", "source", "lang", "text"),
        StreamOps.driftGate(snap, maxShiftMicros = maxDelta + 1)) { out =>
      batches += out.collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7), r.getLong(8), r.getInt(9))).toList
    }.start()
    try {
      ms.addData(arr); q.processAllAvailable()    // representative batch
      ms.addData(skewed); q.processAllAvailable() // one-source skew
    } finally { q.stop() }
    assert(batches.length === 2)
    // batch 1 ≡ q124 cell-for-cell (q124 rows with tok_new=0 have no
    // arrival docs — the gate's full join emits them identically)
    val got1 = batches(0)
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6, r._7, r._8, r._9))).toMap
    assert(got1 === want)
    // threshold chosen above the split's own max shift: nothing drifts
    assert(batches(0).forall(_._10 === 0))
    // the skewed batch concentrates all mass in one source: its cells
    // must flag, and at least one starved cell flags too
    val flagged = batches(1).filter(_._10 === 1)
    assert(flagged.nonEmpty, "skewed batch not flagged")
    assert(flagged.exists(_._1 == skewSource), "skew source itself not flagged")
  }

  test("streaming bounded as-of join ≡ batch within the emitted horizon") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Event]
    ms.addData(eventData)
    val ev = ms.toDF()
    val q = StreamOps.asofPurchaseClick(
      ev.filter(col("event_type") === "purchase"),
      ev.filter(col("event_type") === "click"))
      .writeStream.format("memory").queryName("t_asof").outputMode("append").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val got = spark.table("t_asof")
      .as[(Long, Long, String, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    // batch reference: same bounded as-of computed relationally
    val bev = Tables.events(spark, SF)
    val bp = bev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
    val bc = bev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
    val batch = bp.join(bc, expr(
        "p_user = c_user AND c_ts >= p_ts - INTERVAL 10 MINUTES AND c_ts < p_ts"))
      .groupBy(col("p_id"), col("p_user"), col("p_ts"))
      .agg(max(col("c_ts")).as("last_click_ts"), count(lit(1)).as("n_clicks"))
      .select(col("p_id"), col("p_user"), col("p_ts"),
        date_format(col("last_click_ts"), "yyyy-MM-dd HH:mm:ss").as("lc"),
        col("n_clicks"))
      .as[(Long, Long, java.sql.Timestamp, String, Long)].collect()
    val batchMap = batch.map(r => r._1 -> (r._2, r._4, r._5)).toMap
    // append mode withholds groups the final watermark hasn't closed:
    // emitted rows must agree with batch exactly, and everything safely
    // inside the horizon (window end ≤ watermark − slack) must be emitted
    got.foreach { case (pid, v) =>
      assert(batchMap(pid) === v, s"purchase $pid diverges from batch") }
    val maxTs = eventData.map(_.ts.getTime).max
    val safeEnd = maxTs - 3600 * 1000L - 60 * 1000L
    batch.foreach { case (pid, _, pts, _, _) =>
      val winEnd = (pts.getTime / 600000L) * 600000L + 600000L
      if (winEnd <= safeEnd)
        assert(got.contains(pid), s"purchase $pid inside horizon not emitted")
    }
    assert(got.nonEmpty)
  }

  test("native session_window: stream ≡ batch on complete input") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Event]
    ms.addData(eventData)
    val q = StreamOps.sessionWindowAgg(ms.toDF())
      .writeStream.format("memory").queryName("t_sw").outputMode("complete").start()
    try { q.processAllAvailable() } finally { q.stop() }
    // total_value rounded: per-session float sums may associate
    // differently between the stream and batch executions
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), round(col("total_value"), 6).as("tv"))
      .as[(Long, String, String, Long, Double)].collect().toSet
    val got = canon(spark.table("t_sw"))
    // session_window works identically as a batch aggregation — the
    // stream must reproduce it exactly (the watermark is a no-op there)
    val want = canon(StreamOps.sessionWindowAgg(Tables.events(spark, SF)
      .select("event_id", "ts", "user_id", "event_type", "value")))
    assert(got === want)
    assert(got.nonEmpty)
    // sessions per user are disjoint and gap-separated: ends before next starts
    val perUser = got.toSeq.groupBy(_._1).values
    perUser.foreach { ss =>
      val ordered = ss.sortBy(_._2)
      ordered.sliding(2).foreach {
        case Seq(a, b) => assert(a._3 <= b._2,
          s"overlapping sessions for user ${a._1}: $a vs $b")
        case _ => ()
      }
    }
  }

  test("stateful session counting ≡ batch q28 session totals") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Event]
    ms.addData(eventData)
    val q = StreamOps.sessionCounts(ms.toDS())
      .writeStream.format("memory").queryName("t_q28").outputMode("update").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val got = spark.table("t_q28")
      .groupBy("user_id").agg(max("n_sessions").as("n"))
      .as[(Long, Long)].collect().toMap
    val want = Events.q28(spark, SF)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    assert(got === want)
  }

  test("epoch continuity (q200) at the REAL serve seam: a mid-epoch append lands the q200 tail in the artifact and never re-ranks the prefix") {
    implicit val ctx = spark.sqlContext
    import graft.operators.{BpeOps, PipelineOps}
    val merges = BpeOps.train(spark, SF)._1
    // PRIVATE artifact base (the graftpack-spec discipline): gen 1 = the
    // q158 snapshot build — the "generation N" a running job consumes
    val base = java.nio.file.Files.createTempDirectory("graft_epochcont").toFile
    try {
      val gen = PipelineOps.q158(spark, SF)
      PipelineOps.Lineage.Pack.write(base, gen)
      val endOffset = gen.agg(max(col("cum_units"))).head().getLong(0)
      // the arrival set is the registered op's own model — the docs whose
      // TEXT now arrives through the real stream, as ONE served batch at
      // the rebuild→serve handoff offset
      val arrIds = PipelineOps.q200(spark, SF)
        .filter(col("is_arrival") === 1L).select("doc_id").distinct()
        .collect().map(_.getLong(0)).toSet
      assert(arrIds.nonEmpty, "premise: arrival model non-empty at this SF")
      val arrDocs = Tables.documents(spark, SF).select("doc_id", "text")
        .filter(col("doc_id").isin(arrIds.toSeq: _*))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      val langs = Tables.documents(spark, SF).select("doc_id", "lang")
      type PackRow = (Long, Long, Long, Long, Long, Long)
      val served = scala.collection.mutable.ArrayBuffer[PackRow]()
      val ms = MemoryStream[(Long, String)]
      val q = StreamOps.serve(ms.toDF().toDF("doc_id", "text"),
          StreamOps.pack(merges), StreamOps.ServeState(endOffset)) { p =>
        val cached = p.cache()
        try {
          PipelineOps.Lineage.Pack.appendServed(base, cached, Some(langs))
          served ++= cached.collect().map(r => (r.getLong(0), r.getLong(1),
            r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
        } finally cached.unpersist()
      }.start()
      try { ms.addData(arrDocs); q.processAllAvailable() } finally q.stop()
      // (1) the REAL served rows are byte-identical to the registered
      // op's arrival model (the pack fold's one-batch law at the handoff):
      // the q200 tail IS what the serve seam appended
      val modeled = PipelineOps.arrivalPack(spark, SF,
          PipelineOps.Lineage.Pack, endOffset)
        .collect().map(r => (r.getAs[Long]("doc_id"),
          r.getAs[Long]("chunk_id"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("n_units"), r.getAs[Long]("cum_units"),
          r.getAs[Long]("shard")))
      assert(served.sorted.toSeq === modeled.sorted.toSeq)
      // (2) the landed artifact's membership is exactly q200's (gen ∪
      // arrivals) — the epoch stream ranks precisely what is on disk
      val artKeys = PipelineOps.Lineage.Pack.read(spark, base)
        .select("doc_id", "chunk_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val contKeys = PipelineOps.q200(spark, SF)
        .filter(col("epoch") === 0L).select("doc_id", "chunk_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(artKeys === contKeys)
      // (3) NO prefix re-ranking across the append: the continuity
      // stream's gen-N half carries q162's ranks verbatim (PipelineSpec
      // pins rank-for-rank equality; here pin it THROUGH the append —
      // the artifact grew, q162 over the snapshot is unchanged)
      val prefixRanks = PipelineOps.q200(spark, SF)
        .filter(col("is_arrival") === 0L)
        .select("epoch", "seq_rank", "doc_id", "chunk_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sorted.toSeq
      val q162Ranks = PipelineOps.q162(spark, SF)
        .select("epoch", "seq_rank", "doc_id", "chunk_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sorted.toSeq
      assert(prefixRanks === q162Ranks)
    } finally GenManifest.rmTree(base)
  }

  test("multimodal serve parity: gated arrivals land in the mmpack artifact, planted arrival fully dropped, manifest audit green, compaction absorbs re-delivery") {
    implicit val ctx = spark.sqlContext
    import graft.operators.{BpeOps, PipelineOps}
    val merges = BpeOps.train(spark, SF)._1
    val benchSh = PipelineOps.benchShingles(spark, SF)
    // PRIVATE mmpack artifact: generation 1 = the q196 build
    val base = java.nio.file.Files.createTempDirectory("graft_mmserve").toFile
    try {
      val build = PipelineOps.q196(spark, SF)
      PipelineOps.Lineage.MmPack.write(base, build)
      val endOffset = build.agg(max(col("cum_units"))).head().getLong(0)
      // arrivals: clean docs + a PLANTED benchmark quote on an id that
      // carries BOTH modality rows (divisible by MmImgMod and MmAudMod) —
      // the gate must drop its text chunks AND its locators
      val corpus = Tables.documents(spark, SF).select("doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getString(1)))
      val benchDoc = corpus.filter(_._1 % 97 == 0)
        .maxBy(_._2.split("\\s+").length)
      val planted = (900015L, benchDoc._2)
      assert(planted._1 % PipelineOps.MmImgMod == 0 &&
        planted._1 % PipelineOps.MmAudMod == 0)
      val clean = corpus.filterNot(_._1 % 97 == 0).take(12).toSeq
      type MmRow = (Long, Long, String, String, Long, Long, Long)
      def mmKeyOf(r: org.apache.spark.sql.Row): MmRow =
        (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3),
          r.getLong(4), r.getLong(5), r.getLong(6))
      val served = scala.collection.mutable.ArrayBuffer[MmRow]()
      val ms = MemoryStream[(Long, String)]
      val q = StreamOps.serve(ms.toDF().toDF("doc_id", "text"),
          StreamOps.mmPack(merges, Some(benchSh)),
          StreamOps.ServeState(endOffset)) { p =>
        val cached = p.cache() // two consumers: append job + the probe
        try {
          PipelineOps.Lineage.MmPack.appendServed(base, cached)
          served ++= cached.collect().map(mmKeyOf)
        } finally cached.unpersist()
      }.start()
      try { ms.addData(clean :+ planted); q.processAllAvailable() }
      finally q.stop()
      // the planted arrival is FULLY dropped — no chunks, no locators
      assert(served.nonEmpty && !served.exists(_._1 == planted._1))
      // ...and the drop is the GATE's doing: the ungated seam serves the
      // same doc's text + image + audio rows
      val served2 = scala.collection.mutable.ArrayBuffer[MmRow]()
      val ms2 = MemoryStream[(Long, String)]
      val q2 = StreamOps.serve(ms2.toDF().toDF("doc_id", "text"),
          StreamOps.mmPack(merges), StreamOps.ServeState()) { p =>
        served2 ++= p.collect().map(mmKeyOf); ()
      }.start()
      try { ms2.addData(Seq(planted)); q2.processAllAvailable() }
      finally q2.stop()
      assert(served2.map(_._3).toSet === Set("text", "image", "audio"))
      // clean arrivals' modality rows serve through the gate
      assert(served.exists(r => r._3 == "image" || r._3 == "audio"),
        "premise: some clean arrival carries a modality row")
      // the artifact now holds rebuild ∪ served, byte-exact per modality
      val buildRows = build.collect().map(mmKeyOf)
      val expected = (buildRows.toSeq ++ served).sorted
      def artRows() = PipelineOps.Lineage.MmPack.read(spark, base).collect()
        .map(mmKeyOf).toSeq.sorted
      assert(artRows() === expected)
      // served rows landed PARTITIONED inside generation 1
      served.map(_._7).distinct.foreach { k =>
        assert(new java.io.File(PipelineOps.Lineage.MmPack.dir(base, 1L),
          s"shard=$k").isDirectory,
          s"served shard $k must land in its partition dir")
      }
      // q197's manifest audit is green over the LANDED artifact: the
      // per-modality aggregate over the artifact read ≡ over the
      // in-memory union (same mmManifestOf, the q190 audit seam)
      def manifestRows(df: org.apache.spark.sql.DataFrame) =
        PipelineOps.mmManifestOf(df).collect()
          .map(_.toSeq.map(String.valueOf)).toList
      val unionDf = expected
        .map(identity[(Long, Long, String, String, Long, Long, Long)])
        .toDF("doc_id", "seq_id", "modality",
          "locator", "n_units", "cum_units", "shard")
      assert(manifestRows(PipelineOps.Lineage.MmPack.read(spark, base)) ===
        manifestRows(unionDf))
      // AT-LEAST-ONCE: a re-delivered batch appends byte-identical rows
      // again — absorbed at compaction, one file per shard restored
      PipelineOps.Lineage.MmPack.appendServed(base,
        served.toSeq
          .map(identity[(Long, Long, String, String, Long, Long, Long)])
          .toDF("doc_id", "seq_id", "modality", "locator",
            "n_units", "cum_units", "shard"))
      assert(PipelineOps.Lineage.MmPack.read(spark, base).count() ===
        (expected.size + served.size).toLong)
      PipelineOps.Lineage.MmPack.compact(spark, base)
      assert(GenManifest.current(base, "mmpack") === 2L)
      assert(artRows() === expected)
      val gen2 = PipelineOps.Lineage.MmPack.dir(base, 2L)
      gen2.listFiles().filter(_.getName.startsWith("shard=")).foreach { d =>
        assert(d.listFiles().count(_.getName.endsWith(".parquet")) === 1,
          s"${d.getName} must compact to one file")
      }
      // a reader pinned at generation 1 is undisturbed by the publish —
      // it still sees the duplicate append
      assert(PipelineOps.Lineage.MmPack.read(spark, base, Some(1L)).count() ===
        (expected.size + served.size).toLong)
    } finally GenManifest.rmTree(base)
  }

  test("mm epoch continuity (q207) at the REAL serve seam: a mid-epoch mm append lands the q207 tail in the artifact and never re-ranks the prefix") {
    implicit val ctx = spark.sqlContext
    import graft.operators.{BpeOps, PipelineOps}
    val merges = BpeOps.train(spark, SF)._1
    // PRIVATE mmpack artifact: generation 1 = the q196 build — the
    // "generation N" a running multimodal job consumes
    val base = java.nio.file.Files.createTempDirectory("graft_mmepcont").toFile
    try {
      val gen = PipelineOps.q196(spark, SF)
      PipelineOps.Lineage.MmPack.write(base, gen)
      val endOffset = gen.agg(max(col("cum_units"))).head().getLong(0)
      // the arrival set is the registered op's own model — the docs
      // whose text AND locators now arrive through the real mm stream
      val arrIds = PipelineOps.q207(spark, SF)
        .filter(col("is_arrival") === 1L).select("doc_id").distinct()
        .collect().map(_.getLong(0)).toSet
      assert(arrIds.nonEmpty, "premise: mm arrival model non-empty")
      val arrDocs = Tables.documents(spark, SF).select("doc_id", "text")
        .filter(col("doc_id").isin(arrIds.toSeq: _*))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      type MmRow = (Long, Long, String, String, Long, Long, Long)
      def mmKeyOf(r: org.apache.spark.sql.Row): MmRow =
        (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3),
          r.getLong(4), r.getLong(5), r.getLong(6))
      val served = scala.collection.mutable.ArrayBuffer[MmRow]()
      val ms = MemoryStream[(Long, String)]
      val q = StreamOps.serve(ms.toDF().toDF("doc_id", "text"),
          StreamOps.mmPack(merges), StreamOps.ServeState(endOffset)) { p =>
        val cached = p.cache()
        try {
          PipelineOps.Lineage.MmPack.appendServed(base, cached)
          served ++= cached.collect().map(mmKeyOf)
        } finally cached.unpersist()
      }.start()
      try { ms.addData(arrDocs); q.processAllAvailable() } finally q.stop()
      // (1) the REAL served rows are byte-identical to the registered
      // op's mm arrival model (mmPackFold's one-batch law at the
      // handoff): the q207 tail IS what the serve seam appended —
      // text chunks AND modality locator rows
      assert(served.exists(_._3 != "text"),
        "premise: some arrival carries a modality row")
      val modeled = PipelineOps.arrivalPack(spark, SF,
          PipelineOps.Lineage.MmPack, endOffset)
        .collect().map(mmKeyOf)
      assert(served.sorted.toSeq === modeled.sorted.toSeq)
      // (2) the landed artifact's membership is exactly q207's (gen ∪
      // arrivals) — the mm epoch stream ranks precisely what is on disk
      val artKeys = PipelineOps.Lineage.MmPack.read(spark, base)
        .select("doc_id", "seq_id", "modality").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      val contKeys = PipelineOps.q207(spark, SF)
        .filter(col("epoch") === 0L)
        .select("doc_id", "seq_id", "modality").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(artKeys === contKeys)
      // (3) NO prefix re-ranking across the append: the continuity
      // stream's gen-N half carries the standing mm epoch ranks
      // verbatim — pinned THROUGH the append (the artifact grew, the
      // snapshot permutation is unchanged)
      val prefixRanks = PipelineOps.q207(spark, SF)
        .filter(col("is_arrival") === 0L)
        .select("epoch", "seq_rank", "doc_id", "seq_id", "modality")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getString(4))).sorted.toSeq
      val standing = PipelineOps.epochOrdered(spark, SF,
        PipelineOps.Lineage.MmPack)
        .select("epoch", "seq_rank", "doc_id", "seq_id", "modality")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getString(4))).sorted.toSeq
      assert(prefixRanks === standing)
    } finally GenManifest.rmTree(base)
  }

  test("epochTailServe (32t): one batch ≡ q200's tail byte-exact; split batches stay dense per epoch under the draw law") {
    implicit val ctx = spark.sqlContext
    import graft.operators.{BpeOps, PipelineOps}
    val merges = BpeOps.train(spark, SF)._1
    val gen = PipelineOps.q158(spark, SF)
    val endOffset = gen.agg(max(col("cum_units"))).head().getLong(0)
    val nGen = gen.count()
    type TailRow = (Long, Long, Long, Long, Long)
    def key(r: org.apache.spark.sql.Row): TailRow =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    val want = PipelineOps.q200(spark, SF).filter(col("is_arrival") === 1L)
      .select("epoch", "seq_rank", "doc_id", "chunk_id", "shard")
      .collect().map(key).toSeq.sorted
    assert(want.nonEmpty)
    val arrIds = want.map(_._3).distinct
    val arrDocs = Tables.documents(spark, SF).select("doc_id", "text")
      .filter(col("doc_id").isin(arrIds: _*))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    def run(batches: Seq[Seq[(Long, String)]]): Seq[TailRow] = {
      val got = scala.collection.mutable.ArrayBuffer[TailRow]()
      val ms = MemoryStream[(Long, String)]
      val q = StreamOps.serve(ms.toDF().toDF("doc_id", "text"),
          StreamOps.epochTail(StreamOps.pack(merges), nGen),
          StreamOps.ServeState(endOffset, ranked = true)) { out =>
        got ++= out.collect().map(key); ()
      }.start()
      try batches.foreach { b => ms.addData(b); q.processAllAvailable() }
      finally q.stop()
      got.toSeq
    }
    // ONE batch covering all arrivals ≡ the registered q200 tail —
    // ranks, shards, membership, everything
    assert(run(Seq(arrDocs)).sorted === want)
    // TWO batches: earlier served ranks are immutable, so batch 1's
    // sequences occupy the first slots of every epoch and batch 2
    // appends after them — per epoch the ranks stay DENSE from nGen+1
    // and each batch is internally ordered by the q162 draw law
    val (b1, b2) = arrDocs.splitAt(arrDocs.size / 2)
    val two = run(Seq(b1, b2))
    val perEpochSeqs = want.count(_._1 == 0L)
    (0L until PipelineOps.Epochs.toLong).foreach { e =>
      val ranks = two.filter(_._1 == e).map(_._2).sorted
      assert(ranks === (nGen + 1 to nGen + perEpochSeqs).map(identity),
        s"epoch $e tail ranks must stay dense across batches")
      // batch-1 docs hold the low ranks in EVERY epoch
      val b1Docs = b1.map(_._1).toSet
      val lowRankDocs = two.filter(t => t._1 == e)
        .sortBy(_._2).map(_._3)
      val nB1 = two.count(t => t._1 == e && b1Docs.contains(t._3))
      assert(lowRankDocs.take(nB1).forall(b1Docs.contains))
    }
    // same membership as the batch op. Shard boundaries are excluded
    // deliberately: split batches pack at their own running offsets, so
    // the unit stream's shard cuts differ from the all-at-once pack —
    // the SAME order-only divergence the pack fold documents vs q158
    assert(two.map(t => (t._1, t._3, t._4)).sorted ===
      want.map(t => (t._1, t._3, t._4)).sorted)
  }

  test("mmEpochTailServe (32u): one batch ≡ q207's tail byte-exact; resumable twin replays both states across a kill") {
    implicit val ctx = spark.sqlContext
    import graft.operators.{BpeOps, PipelineOps}
    val merges = BpeOps.train(spark, SF)._1
    val gen = PipelineOps.q196(spark, SF)
    val endOffset = gen.agg(max(col("cum_units"))).head().getLong(0)
    val nGen = gen.count()
    type TailRow = (Long, Long, Long, Long, String, Long)
    def key(r: org.apache.spark.sql.Row): TailRow =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getLong(5))
    val want = PipelineOps.q207(spark, SF).filter(col("is_arrival") === 1L)
      .select("epoch", "seq_rank", "doc_id", "seq_id", "modality", "shard")
      .collect().map(key).toSeq.sorted
    assert(want.nonEmpty)
    assert(want.exists(_._5 != "text"),
      "premise: the mm tail carries modality rows")
    val arrIds = want.map(_._3).distinct
    val arrDocs = Tables.documents(spark, SF).select("doc_id", "text")
      .filter(col("doc_id").isin(arrIds: _*))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    // ONE batch covering all arrivals ≡ the registered q207 tail —
    // ranks, shards, membership, modalities, everything
    val got = scala.collection.mutable.ArrayBuffer[TailRow]()
    val ms = MemoryStream[(Long, String)]
    val q = StreamOps.serve(ms.toDF().toDF("doc_id", "text"),
        StreamOps.epochTail(StreamOps.mmPack(merges), nGen),
        StreamOps.ServeState(endOffset, ranked = true)) { out =>
      got ++= out.collect().map(key); ()
    }.start()
    try { ms.addData(arrDocs); q.processAllAvailable() } finally q.stop()
    assert(got.toSeq.sorted === want)
    // the RESUMABLE twin: drive the fold's step + the atomic two-state
    // commit directly (the epochTailServeResumable proof shape for the
    // mm seam) — kill after batch 0, resume from the FILE, re-deliver
    // batch 1 byte-identically, neither offset advancing
    val tmpDir = Standing.dir(spark, "mmeptail")
    tmpDir.mkdirs()
    def stateFile(n: String) = new java.io.File(tmpDir, n)
    def text(f: java.io.File) =
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    def resume(f: java.io.File) =
      StreamOps.ServeState.resume(f, endOffset, ranked = true)
    def drive(state: StreamOps.ServeState, b: Seq[(Long, String)], id: Long)
        : List[TailRow] = {
      var out: List[TailRow] = null
      StreamOps.epochTail(StreamOps.mmPack(merges), nGen)
        .step(b.toDF("doc_id", "text"), state, id) { p =>
          out = p.collect().map(key).toList }
      state.commit()
      out
    }
    val (b1, b2) = arrDocs.splitAt(arrDocs.size / 2)
    val fRef = stateFile("ref.json")
    val stRef = resume(fRef)
    val ref = Seq(b1, b2).zipWithIndex.map { case (b, i) =>
      drive(stRef, b, i.toLong) }
    val fKill = stateFile("kill.json")
    val st1 = resume(fKill)
    assert(drive(st1, b1, 0L) === ref(0))
    val st2 = resume(fKill)
    val (loadedOffset, loadedRank) = (st2.offset, st2.rankOffset)
    // re-delivered batch 0 → byte-identical at the original bases
    assert(drive(st2, b1, 0L) === ref(0))
    assert(st2.offset === loadedOffset && st2.rankOffset === loadedRank,
      "re-delivery must advance neither offset")
    // fresh batch continues both sequences; states converge
    assert(drive(st2, b2, 1L) === ref(1))
    assert(text(fKill) === text(fRef))
  }

  test("every fold's batch-scoped blocks die with its batch, through serve and through step") {
    implicit val ctx = spark.sqlContext
    import graft.operators.{BpeOps, PipelineOps, SimOps, TextOps}
    import org.apache.spark.sql.DataFrame
    val mod = DedupOps.IncrSplitMod
    val k = DedupOps.DupSpanK
    val docs = Tables.documents(spark, SF)
    val arr = docs.filter(col("doc_id") % mod === 0).orderBy("doc_id").limit(6)
      .select("doc_id", "source", "lang", "text").as[(Long, String, String, String)].collect().toSeq
    val vecs = Tables.embeddings(spark, SF).orderBy("vec_id").limit(6)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect().toSeq
    // the standing artifacts every fold reads
    val merges = BpeOps.train(spark, SF)._1
    val benchSh = PipelineOps.benchShingles(spark, SF)
    DedupOps.q122Write(spark, SF)
    DedupOps.q189(spark, SF).count()
    TextOps.q130Write(spark, docs.filter(col("doc_id") % mod =!= 0)
      .select(col("doc_id"), graft.text.Text.tokens(col("text")).as("toks")))
    val annBase = Standing.dir(spark, "annserve_life")
    SimOps.annIndexWrite(spark, annBase, Tables.embeddings(spark, SF))
    val (cellsRow, cbRow) = SimOps.annIndexModel(spark, annBase)
    val spans = docs.filter(col("doc_id") % mod =!= 0)
      .select(col("source").as("osrc"), explode(graft.text.Text.shingles(
        graft.text.Text.tokens(col("text")), k)).as("sh")).distinct()
    val docFolds: Seq[(String, StreamOps.Fold, Seq[String])] = Seq(
      ("clean", StreamOps.Fold.map(DedupOps.cleanVsIndex(_, spans.select("sh"), k)),
        Seq("doc_id", "text")),
      ("attribute", StreamOps.Fold.map(DedupOps.attributeVsIndex(_, spans, k)),
        Seq("doc_id", "source", "text")),
      ("novelty", StreamOps.novelty, Seq("doc_id", "text")),
      ("admit", StreamOps.admit, Seq("doc_id", "source", "text")),
      ("admitMaintained", StreamOps.admitMaintained(), Seq("doc_id", "source", "text")),
      ("bm25", StreamOps.bm25(TextOps.Bm25Query, compactAtFiles = 1),
        Seq("doc_id", "text")),
      ("driftGate", StreamOps.driftGate(docs.select("doc_id", "source", "lang", "text"),
        0L), Seq("doc_id", "source", "lang", "text")),
      ("segment", StreamOps.segment(merges), Seq("doc_id", "text")),
      ("chunk", StreamOps.chunk(merges), Seq("doc_id", "text")),
      ("chunkGated", StreamOps.chunk(merges, Some(benchSh)), Seq("doc_id", "text")),
      ("pack", StreamOps.pack(merges, Some(benchSh)), Seq("doc_id", "text")),
      ("mmPack", StreamOps.mmPack(merges), Seq("doc_id", "text")),
      ("epochTail", StreamOps.epochTail(StreamOps.pack(merges), 0L),
        Seq("doc_id", "text")))
    val vecFolds: Seq[(String, StreamOps.Fold)] = Seq(
      ("ann", StreamOps.ann(SimOps.annIndexVecs(spark, annBase), cellsRow, cbRow,
        SimOps.IdxK)),
      ("annMaintained", StreamOps.annMaintained(annBase, SimOps.IdxK,
        compactAtFiles = 1)))
    def blocks = (spark.sparkContext.getPersistentRDDs.keySet, CheckpointRegistry.liveCount)
    def consume(out: DataFrame): Unit = { out.collect(); () }
    def stepOnce(fold: StreamOps.Fold, batch: DataFrame): Unit =
      fold.step(batch, StreamOps.ServeState(ranked = fold.ranked), 0L)(consume)
    def serveOnce(fold: StreamOps.Fold, in: DataFrame, feed: () => Unit): Unit = {
      val q = StreamOps.serve(in, fold,
        StreamOps.ServeState(ranked = fold.ranked))(consume).start()
      try { feed(); q.processAllAvailable() } finally q.stop()
    }
    def check(name: String)(run: => Unit): Unit = {
      run // first batch: builds whatever standing relation the fold reads
      val before = blocks
      run
      assert(blocks === before, s"$name: a batch left blocks behind")
    }
    docFolds.foreach { case (name, fold, cols) =>
      check(name) {
        stepOnce(fold, arr.toDF("doc_id", "source", "lang", "text").select(cols.map(col): _*))
        val ms = MemoryStream[(Long, String, String, String)]
        serveOnce(fold, ms.toDF().toDF("doc_id", "source", "lang", "text")
          .select(cols.map(col): _*), () => { ms.addData(arr); () })
      }
    }
    vecFolds.foreach { case (name, fold) =>
      check(name) {
        stepOnce(fold, vecs.toDF("vec_id", "embedding"))
        val ms = MemoryStream[(Long, Array[Float])]
        serveOnce(fold, ms.toDF().toDF("vec_id", "embedding"),
          () => { ms.addData(vecs); () })
      }
    }
  }

  test("CheckpointRegistry.iterate keeps one registered round; done stops early") {
    def live = spark.sparkContext.getPersistentRDDs.keySet
    val seed = spark.range(10).toDF("x")
    val step = (df: org.apache.spark.sql.DataFrame) => df.select((col("x") + 1).as("x"))
    def top(df: org.apache.spark.sql.DataFrame) = df.agg(max("x")).head().getLong(0)
    val (rddsBefore, ckBefore) = (live, CheckpointRegistry.liveCount)
    CheckpointRegistry.scoped {
      val all = CheckpointRegistry.iterate(seed, 5)(step)((_, _) => false)
      assert(all.rounds === 5 && !all.done)
      assert(top(all.last) === 14L)
      // the superseded rounds are gone; only the last round's blocks
      // stay, registered once
      assert(CheckpointRegistry.liveCount === ckBefore + 1)
      assert(live -- rddsBefore ===
        CheckpointRegistry.blocksOf(all.last).map(_.id).toSet)
      var seen = List.empty[(Long, Long)]
      val early = CheckpointRegistry.iterate(seed, 5)(step) { (prev, next) =>
        seen ::= ((top(prev), top(next)))
        top(next) >= 11L
      }
      assert(early.rounds === 2 && early.done)
      assert(seen.reverse === List((9L, 10L), (10L, 11L)))
      assert(top(early.last) === 11L)
      assert(CheckpointRegistry.liveCount === ckBefore + 2)
    }
    assert(CheckpointRegistry.liveCount === ckBefore)
    assert(live === rddsBefore)
  }
}

package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import graft.{GraftSession, Op, SparkEntry, Tables}
import graft.operators.{BpeOps, PipelineOps}
import graft.streaming.StreamOps

/** Runs one cold pipeline workload against the graft library in this JVM
  * and writes what it measured to `<out>/result.json`; the op results land
  * under `<out>/outputs/<op>/` for the correctness check. `run.py` starts
  * this main, checks the outputs and reports. */
object Main {
  final case class Conf(workload: String, data: String, out: String,
      trace: Boolean, cpus: Int, seed: Long)

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    kv.get("oracles").foreach { path =>
      Files.write(Paths.get(path), oracleJson.getBytes("UTF-8"))
      return
    }
    val cpus = kv("cpus").toInt
    // a set-up-only JVM: one cold session start, then exit
    kv.get("setup-only").foreach { path =>
      val t0 = System.nanoTime()
      val s = session(cpus, kv("out"))
      val ns = System.nanoTime() - t0
      s.stop()
      Files.write(Paths.get(path), ns.toString.getBytes("UTF-8"))
      return
    }
    val c = Conf(kv("workload"), kv("data"), kv("out"), kv("trace") == "1",
      cpus, kv("seed").toLong)
    val code = try { new Run(c).apply(); 0 } catch {
      case t: Throwable => t.printStackTrace(); 1
    }
    System.exit(code)
  }

  /** The session every workload runs on: `local[cpus]` with as many
    * shuffle partitions, configured as the library configures its own. */
  def session(cpus: Int, out: String): SparkSession = {
    val s = GraftSession.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.local.dir", new File(out, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(out, "warehouse").getAbsolutePath))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The two pipelines, in call order. `screen`: tokenize → stop-word TF
    * → TF-IDF → fixed-weight score and its WSS@95 → trained classifier
    * roster → WSS@95 of the trained scores, then one call each into
    * EvalOps (Cohen's kappa of language id), SimOps (LSH ANN over the
    * embeddings) and Relational (top-k orders). `corpus`: MinHash dedup
    * → PageRank over the duplicate graph → chunk decontamination → BPE
    * vocabulary → pack artifact write → training-step read, then a
    * micro-batch stream. */
  val chains: Map[String, Seq[String]] = Map(
    "screen" -> Seq("q33", "q34", "q36", "q38", "q40", "q79", "q81",
      "q138", "q54", "q9"),
    "corpus" -> Seq("q50", "q95", "q173", "q163", "q165", "q177"))

  /** Ops called once more after the chain. The library memoizes what
    * they build, so the second call times the memo-hit path. */
  val warm: Map[String, Seq[String]] = Map(
    "screen" -> Seq("q79", "q81"),
    "corpus" -> Seq("q177"))

  /** The harness's own call names, each attributed to a layer: the
    * micro-batch stream, the warm re-calls of memoized ops, and the
    * read of the stream's arrivals. */
  val Stream = "stream_pack_serve_decontam"
  def warmName(op: String): String = s"memo.$op"
  val Feed = "sources.stream_feed"

  /** Every layer with the call names attributed to it; an op is
    * attributed to the module whose `ops` list holds it. */
  val modules: Seq[(String, Seq[String])] = {
    import graft.operators._
    Seq("Relational" -> (Relational.ops ++ Relational2.ops),
      "Events" -> Events.ops, "TextOps" -> TextOps.ops,
      "EvalOps" -> EvalOps.ops, "BpeOps" -> BpeOps.ops,
      "EmbedOps" -> EmbedOps.ops, "DedupOps" -> DedupOps.ops,
      "PipelineOps" -> PipelineOps.ops, "GraphOps" -> GraphOps.ops,
      "SimOps" -> SimOps.ops, "MLOps" -> MLOps.ops,
      "Bucketed" -> Bucketed.ops).map { case (m, ops) => m -> ops.map(_.name) } ++
    Seq("StreamOps" -> Seq(Stream), "sources" -> Seq(Feed),
      "memo" -> warm.values.flatten.toSeq.map(o => warmName(op(o).name)))
  }

  /** A JSON string literal. */
  def js(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"; case ch => ch.toString
  } + "\""

  def op(short: String): Op =
    SparkEntry.allOps.find(_.name.takeWhile(_ != '_') == short)
      .getOrElse(sys.error(s"no op $short"))

  /** The micro-batches fed to `StreamOps.packServeDecontam` in `corpus`:
    * one, so that the run stays inside its time budget. */
  val StreamBatches = 1
  val BatchDocs = 100

  /** {workload: {op: oracle SQL}} for every chain op with a DuckDB oracle,
    * so the reference answers can be computed once per build. */
  def oracleJson: String = chains.map { case (w, ops) =>
    js(w) + ":" + ops.map(op).flatMap(o => o.oracle.map(js(o.name) + ":" + js(_)))
      .mkString("{", ",", "}")
  }.mkString("{", ",", "}")
}

final class Run(c: Main.Conf) {
  import Main._

  private val chain = chains.getOrElse(c.workload,
    sys.error(s"unknown workload ${c.workload}")).map(op)
  private val spans = new Spans
  private var spark: SparkSession = _
  private val moduleOf: Map[String, String] =
    modules.flatMap { case (m, names) => names.map(_ -> m) }.toMap

  private val failures = mutable.ArrayBuffer.empty[String]
  /** Result of each op's first call (schema, rows), for the checks. */
  private val results = mutable.LinkedHashMap.empty[String, (StructType, Array[Row])]

  /** One call into a layer under its own job group and span. */
  private def timed[T](name: String)(f: => T): Option[T] = {
    spark.sparkContext.setJobGroup(name, name)
    try Some(spans(name, moduleOf(name))(f))
    catch {
      case t: Throwable =>
        failures += s"$name: ${t.getClass.getSimpleName}: ${t.getMessage}".take(300)
        None
    } finally spark.sparkContext.clearJobGroup()
  }

  private def collect(o: Op, dir: String): (StructType, Array[Row]) = {
    val df = o.fn(spark, dir)
    (df.schema, df.collect())
  }

  private def call(o: Op, dir: String): Unit =
    timed(o.name)(collect(o, dir)).foreach(results(o.name) = _)

  /** The second call of a memoized op: it must return the first call's rows. */
  private def recall(o: Op, dir: String): Unit =
    timed(warmName(o.name))(collect(o, dir)).foreach { case (_, rows) =>
      def key(rs: Array[Row]) = rs.map(_.toString).sorted.toSeq
      if (results.get(o.name).forall(r => key(r._2) != key(rows)))
        failures += s"${warmName(o.name)}: returned other rows than the first call"
    }

  /** Stream job group (the stream thread tags its jobs with the run id). */
  private var streamGroup = ""
  private val batchNs = mutable.ArrayBuffer.empty[Long]
  private var arrivedChunks, servedChunks = 0L

  /** Seeded micro-batches of documents the corpus pack holds, one in 20
    * of them with chunks q173 flagged, fed through the decontaminating
    * pack-serve stream. Checks: offsets gapless, Σ masses = final offset,
    * no flagged chunk served, and every unflagged chunk served. */
  private def stream(dir: String): Unit = {
    val q173 = results.get(op("q173").name).getOrElse {
      failures += s"$Stream: q173 produced no chunk flags"; return
    }
    val Seq(dI, cI, fI) = Seq("doc_id", "chunk_id", "contaminated").map(q173._1.fieldIndex)
    val chunks = q173._2.map(r => ((r.getLong(dI), r.getLong(cI)), r.getInt(fI) == 1))
    val flaggedDocs = chunks.filter(_._2).map(_._1._1).distinct.sorted
    val cleanDocs = chunks.map(_._1._1).distinct.sorted.diff(flaggedDocs)
    val rng = new scala.util.Random(c.seed)
    val nFlagged = math.min(flaggedDocs.length, BatchDocs * StreamBatches / 20)
    val picked = rng.shuffle((rng.shuffle(flaggedDocs.toSeq).take(nFlagged) ++
      rng.shuffle(cleanDocs.toSeq).take(BatchDocs * StreamBatches - nFlagged)).toVector)
    val texts = timed(Feed) {
      Tables.documents(spark, dir).where(col("doc_id").isin(picked: _*))
        .select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    }.getOrElse(return)
    val batches = picked.grouped(BatchDocs).map(_.map(d => (d, texts(d)))).toSeq
    val sample = picked.toSet
    val arrived = chunks.filter(ch => sample(ch._1._1))
    arrivedChunks = arrived.length
    val served = mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    timed(Stream) {
      val merges = BpeOps.train(spark, dir)._1
      val benchSh = PipelineOps.benchShingles(spark, dir)
      val s = spark
      implicit val sqlc: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val ms = MemoryStream[(Long, String)]
      val q = StreamOps.packServeDecontam(ms.toDF().toDF("doc_id", "text"),
          merges, benchSh) { p =>
        served ++= p.select("doc_id", "chunk_id", "n_units", "cum_units").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        ()
      }.start()
      streamGroup = q.runId.toString
      try batches.foreach { b =>
        val t = System.nanoTime()
        ms.addData(b)
        q.processAllAvailable()
        batchNs += System.nanoTime() - t
      } finally q.stop()
    }
    servedChunks = served.length
    val byOffset = served.sortBy(_._4)
    val gapless = byOffset.zipWithIndex.forall { case (s, i) =>
      s._4 == (if (i == 0) 0L else byOffset(i - 1)._4) + s._3 }
    val keys = served.map(s => (s._1, s._2)).toSet
    val flagged = arrived.filter(_._2).map(_._1).toSet
    if (served.isEmpty) failures += s"$Stream: nothing served"
    if (!gapless) failures += s"$Stream: served offsets have gaps"
    if (served.map(_._3).sum != byOffset.lastOption.map(_._4).getOrElse(0L))
      failures += s"$Stream: masses do not sum to the final offset"
    if ((keys & flagged).nonEmpty) failures += s"$Stream: served a flagged chunk"
    if (keys != arrived.map(_._1).toSet -- flagged)
      failures += s"$Stream: served chunks are not the unflagged arrivals"
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def hostTicks(): (Long, Long) = try {
    val f = new String(Files.readAllBytes(Paths.get("/proc/stat")), "UTF-8")
      .linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.take(8).sum)
  } catch { case _: Exception => (0L, 0L) }

  def apply(): Unit = {
    new File(c.out).mkdirs()
    spans("setup", "setup") { spark = session(c.cpus, c.out) }
    val setupNs = spans.last.endNs - spans.last.startNs
    val storage = new Counters(full = false, spans.t0)
    spark.sparkContext.addSparkListener(storage)
    val traced = if (c.trace) {
      val t = new Counters(full = true, spans.t0)
      spark.sparkContext.addSparkListener(t)
      Some(t)
    } else None
    // one pass, cold: this JVM, its session and its java.io.tmpdir are
    // new, so every memo and artifact the library keeps starts empty
    val dir = new File(c.data).getAbsolutePath
    val (cpu0, ticks0) = (os.getProcessCpuTime, hostTicks())
    spans("pass", "pass") {
      chain.foreach(call(_, dir))
      if (c.workload == "corpus") stream(dir)
      warm(c.workload).map(op).foreach(recall(_, dir))
    }
    val p = spans.last
    val pass = Pass(p.startNs, p.endNs, os.getProcessCpuTime - cpu0, ticks0, hostTicks())
    org.apache.spark.perfbench.Drain(spark.sparkContext)
    writeOutputs()
    writeResult(setupNs, storage.peakBytes, pass, traced)
    spark.stop()
  }

  private def writeOutputs(): Unit = results.foreach { case (name, (schema, rows)) =>
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode("overwrite")
      .parquet(new File(c.out, s"outputs/$name").getAbsolutePath)
  }

  private def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")

  private def writeResult(setupNs: Long, peak: Long, p: Pass,
      traced: Option[Counters]): Unit = {
    val t = traced.getOrElse(new Counters(full = true, spans.t0))
    def group(g: String) = if (g == streamGroup) Stream else g
    val fields = Seq(
      "workload" -> js(c.workload),
      "cpus" -> c.cpus.toString,
      "setup_ns" -> setupNs.toString,
      "storage_peak_bytes" -> peak.toString,
      "pass" -> (s"""{"start_ns":${p.startNs},"end_ns":${p.endNs},"cpu_ns":${p.cpuNs},""" +
        s""""steal_ticks":${p.steal1._1 - p.steal0._1},""" +
        s""""host_ticks":${p.steal1._2 - p.steal0._2}}"""),
      "stream" -> (s"""{"batch_ns":${arr(batchNs.map(_.toString))},""" +
        s""""arrived":$arrivedChunks,"served":$servedChunks}"""),
      "failures" -> arr(failures.map(js)),
      "outputs" -> arr(results.keys.map(js)),
      "oracle" -> results.keys.filter(SparkEntry.oracleSql.contains)
        .map(k => js(k) + ":" + js(SparkEntry.oracleSql(k))).mkString("{", ",", "}"),
      "modules" -> modules.map { case (m, names) =>
        js(m) + ":" + arr(names.map(js)) }.mkString("{", ",", "}"),
      "spans" -> arr(spans.done.sortBy(_.id).map(s =>
        s"[${s.id},${js(s.name)},${js(s.layer)},${s.startNs},${s.endNs},${s.parent}]")),
      "jobs" -> arr(t.jobIntervals.map { case (g, a, b) => s"[${js(group(g))},$a,$b]" }),
      // per job group: jobs, tasks, executor cpu ns, run ms, gc ms, input
      // bytes, shuffle write bytes, shuffle read bytes, spill bytes
      "groups" -> t.byGroup.map { case (g, a) =>
        js(group(g)) + ":" + arr(Seq(a.jobs, a.tasks, a.cpuNs, a.runMs, a.gcMs,
          a.inputB, a.shufW, a.shufR, a.spill).map(_.toString)) }
        .mkString("{", ",", "}"),
      "artifacts" -> artifactStats)
    Files.write(Paths.get(c.out, "result.json"),
      fields.map { case (k, v) => js(k) + ":" + v }.mkString("{", ",", "}")
        .getBytes("UTF-8"))
  }

  /** Bytes and files of the artifacts the ops wrote under java.io.tmpdir. */
  private def artifactStats: String = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val files = Option(new File(System.getProperty("java.io.tmpdir")).listFiles())
      .toSeq.flatten.filter(f => f.isDirectory && f.getName.startsWith("graft_"))
      .flatMap(walk).filterNot(_.getName.startsWith("."))
    s"""{"files":${files.size},"bytes":${files.map(_.length).sum}}"""
  }
}

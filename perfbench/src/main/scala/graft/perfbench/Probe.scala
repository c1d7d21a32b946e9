package graft.perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._

/** One timed call made by the harness: name, layer, wall interval
  * (nanoseconds since the harness started) and the span that caused it.
  * Spans are held in memory and written out once the run ends. */
final case class Span(id: Int, name: String, layer: String,
    startNs: Long, endNs: Long, parent: Int)

/** The measured pass: wall interval, CPU time the whole process used in
  * it (driver, executor threads, JIT and GC together), and the host's
  * cumulative (steal, total) CPU ticks at both ends, which say how much
  * of the wall time the host's other tenants took. */
final case class Pass(startNs: Long, endNs: Long, cpuNs: Long,
    steal0: (Long, Long), steal1: (Long, Long))

final class Spans {
  val t0 = System.nanoTime()
  val done = mutable.ArrayBuffer.empty[Span]
  private var next = 0
  private val stack = mutable.Stack[Int]()

  private def now: Long = System.nanoTime() - t0

  /** Time `f` as a span under the innermost open one. */
  def apply[T](name: String, layer: String)(f: => T): T = {
    val id = { next += 1; next }
    val parent = stack.headOption.getOrElse(0)
    stack.push(id)
    val s = now
    try f
    finally {
      stack.pop()
      done += Span(id, name, layer, s, now, parent)
    }
  }

  def last: Span = done.last
}

/** Counts Spark work per job group (the harness sets one group per call
  * into a layer) and tracks the RDD block storage held at any moment.
  * `full = false` keeps only the storage tracking, which the end-to-end
  * metric `storage_peak_mb` needs even with tracing off. */
final class Counters(full: Boolean, t0Ns: Long) extends SparkListener {
  final class Agg {
    var jobs, tasks, cpuNs, runMs, gcMs, inputB, shufW, shufR, spill = 0L
  }
  val byGroup = mutable.LinkedHashMap.empty[String, Agg]
  /** (group, start, end) of every job, harness-clock nanoseconds. */
  val jobIntervals = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private val jobGroup = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val blocks = mutable.HashMap.empty[String, Long]
  private var held = 0L
  var peakBytes = 0L

  // Spark stamps events in epoch milliseconds; map them onto the span
  // clock (nanoseconds since the harness started)
  private val epochOffsetNs =
    System.currentTimeMillis() * 1000000L - (System.nanoTime() - t0Ns)
  private def clock(epochMs: Long): Long = epochMs * 1000000L - epochOffsetNs

  private def agg(g: String) = byGroup.getOrElseUpdate(g, new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (full) synchronized {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("(none)")
    jobGroup(e.jobId) = g
    jobStart(e.jobId) = clock(e.time)
    e.stageIds.foreach(stageGroup(_) = g)
    agg(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (full) synchronized {
    jobGroup.remove(e.jobId).foreach { g =>
      jobIntervals += ((g, jobStart.remove(e.jobId).get, clock(e.time)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (full) synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = agg(stageGroup.getOrElse(e.stageId, "(none)"))
      a.tasks += 1
      a.cpuNs += m.executorCpuTime
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.inputB += m.inputMetrics.bytesRead
      a.shufW += m.shuffleWriteMetrics.bytesWritten
      a.shufR += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val i = e.blockUpdatedInfo
    if (i.blockId.isRDD) {
      val key = s"${i.blockManagerId.executorId}/${i.blockId.name}"
      val size = if (i.storageLevel.isValid) i.memSize + i.diskSize else 0L
      held += size - blocks.getOrElse(key, 0L)
      if (size == 0L) blocks.remove(key) else blocks(key) = size
      peakBytes = math.max(peakBytes, held)
    }
  }
}

package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Ownership registry for localCheckpoint blocks that outlive their
  * operator ([[operators.DedupOps.connectedComponents]]'s final round,
  * q50's verify-prune candidate set).
  *
  * A localCheckpoint's blocks are NOT CacheManager entries, so the
  * group-level `spark.catalog.clearCache()` in Bench/Verify cannot free
  * them; without an explicit owner each invocation leaks one
  * corpus-sized label snapshot per run (best-of-2 benching of q70, q74
  * and q77 would pin up to six).
  *
  * Registrations are KEYED PER INVOCATION: `register` returns a
  * [[CheckpointRegistry.Handle]] that releases exactly the blocks it
  * covers, so a caller outside the harness (a spec, a notebook) can free
  * its own snapshot without unpersisting another in-flight operator's
  * blocks — whose truncated lineage could not recompute. The blanket
  * [[releaseAll]] remains for the single-threaded harness loops
  * (Bench/Verify between ops) and the suite-level teardown in
  * [[SharedSpark]]; it must only run once no consumer will re-execute
  * any registered plan.
  */
object CheckpointRegistry {

  /** Release scope for one operator invocation's checkpoint blocks. */
  final class Handle private[CheckpointRegistry] (
      private[CheckpointRegistry] val id: Long) {
    /** Unpersist only this invocation's blocks. Idempotent. */
    def release(): Unit = CheckpointRegistry.release(this)
  }

  private val live =
    scala.collection.mutable.LinkedHashMap.empty[Long, Seq[RDD[_]]]
  private var nextId = 0L

  private val scopeStack =
    new ThreadLocal[scala.collection.mutable.Buffer[Handle]]

  /** Track `rdds` as one invocation's block set; the returned handle
    * releases them independently of every other registration. Inside a
    * [[scoped]] block on the SAME thread, the handle is also captured
    * by that scope. */
  def register(rdds: RDD[_]*): Handle = {
    val h = synchronized {
      val h = new Handle(nextId)
      nextId += 1
      live(h.id) = rdds.toSeq
      h
    }
    Option(scopeStack.get()).foreach(_ += h)
    h
  }

  private def release(h: Handle): Unit = synchronized {
    live.remove(h.id).foreach(_.foreach(_.unpersist(blocking = false)))
  }

  /** `df.localCheckpoint()` (eager) with its blocks registered — inside
    * a [[scoped]] block on the same thread, captured by that scope —
    * returning the checkpointed frame. */
  def checkpoint(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint()
    blocksOf(ck).foreach(register(_))
    ck
  }

  /** The blocks behind a checkpointed frame: its `LogicalRDD` leaf's RDD. */
  def blocksOf(df: DataFrame): Option[RDD[_]] =
    df.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l.rdd }

  /** Unpersist EVERY registered block set. Safe to call repeatedly, but
    * only once no consumer will re-execute any registered plan (their
    * lineage is truncated to these blocks — they cannot recompute).
    * Harness/suite teardown use; concurrent operator code should release
    * its own [[Handle]] instead. */
  def releaseAll(): Unit = synchronized {
    live.valuesIterator.foreach(_.foreach(_.unpersist(blocking = false)))
    live.clear()
  }

  /** Run `f`, then release every registration made during it ON THIS
    * THREAD — the per-micro-batch scope for serving loops
    * ([[graft.streaming.StreamOps.admitServe]]): each batch's probe
    * checkpoints its candidate set, the sink materializes the results,
    * and the blocks die with the batch instead of accumulating for the
    * stream's lifetime. Thread-local capture means a CONCURRENT
    * operator (another serving stream in the same JVM) registering
    * inside the window is untouched; nests, restoring the outer scope
    * on exit. The same rule covers [[Standing.inputs]]: what an input
    * thread registers is not captured by the caller's scope — it
    * belongs to the standing build that made it. */
  def scoped[T](f: => T): T = {
    val buf = scala.collection.mutable.Buffer.empty[Handle]
    val prev = scopeStack.get()
    scopeStack.set(buf)
    try f
    finally {
      scopeStack.set(prev)
      buf.foreach(_.release())
    }
  }

  /** Number of live registrations (leak assertions in specs). */
  private[graft] def liveCount: Int = synchronized(live.size)
}

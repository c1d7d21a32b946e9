package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Ownership registry for blocks whose lifetime outlives the expression
  * that made them: localCheckpoint blocks that back an operator's
  * result ([[operators.DedupOps.connectedComponents]]'s final round,
  * q50's verify-prune candidate set), the rounds of a checkpointed
  * fixpoint loop ([[iterate]]), and a serve's batch-scoped caches
  * ([[cached]] inside a fold's scope).
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

  /** Each registration's release: unpersist its blocks or its cache. */
  private val live =
    scala.collection.mutable.LinkedHashMap.empty[Long, () => Unit]
  private var nextId = 0L

  private val scopeStack =
    new ThreadLocal[scala.collection.mutable.Buffer[Handle]]

  /** Track `rdds` as one invocation's block set; the returned handle
    * releases them independently of every other registration. Inside a
    * [[scoped]] block on the SAME thread, the handle is also captured
    * by that scope. */
  def register(rdds: RDD[_]*): Handle =
    own(() => rdds.foreach(_.unpersist(blocking = false)))

  private def own(release: () => Unit): Handle = {
    val h = synchronized {
      val h = new Handle(nextId)
      nextId += 1
      live(h.id) = release
      h
    }
    Option(scopeStack.get()).foreach(_ += h)
    h
  }

  private def release(h: Handle): Unit = synchronized {
    live.remove(h.id).foreach(_())
  }

  /** `df.localCheckpoint()` (eager) with its blocks registered — inside
    * a [[scoped]] block on the same thread, captured by that scope —
    * returning the checkpointed frame. */
  def checkpoint(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint()
    blocksOf(ck).foreach(register(_))
    ck
  }

  /** `df.cache()` with its release registered in the current [[scoped]]
    * block: a batch-scoped cache (a serve's tokenized batch, its packed
    * rows) dies with the scope, on success and on failure alike. Outside
    * a scope nothing would release it, so that is an error. */
  def cached(df: DataFrame): DataFrame = {
    require(scopeStack.get() != null, "CheckpointRegistry.cached needs a scoped block")
    val c = df.cache()
    own(() => { c.unpersist(blocking = false); () })
    c
  }

  /** The result of [[iterate]]: the last materialized round, how many
    * rounds ran, and whether `done` stopped the loop before `maxRounds`. */
  final case class Rounds(last: DataFrame, rounds: Int, done: Boolean)

  /** A checkpointed fixpoint loop: `seed` and every `step(prev)` are
    * materialized by an eager localCheckpoint (lineage stays one round
    * deep — an iterated plan otherwise grows a layer per round, and a
    * plan that reads its state twice doubles). Once round `next` is
    * materialized and `done(prev, next)` has read both, `prev`'s blocks
    * are released; the loop stops when `done` holds or after `maxRounds`
    * steps. The final round's blocks back the returned plan, so they are
    * registered (inside a [[scoped]] block on the same thread, captured
    * by it); a round that fails releases the blocks it held. */
  def iterate(seed: DataFrame, maxRounds: Int)(step: DataFrame => DataFrame)
      (done: (DataFrame, DataFrame) => Boolean): Rounds = {
    def drop(df: DataFrame): Unit =
      blocksOf(df).foreach(_.unpersist(blocking = false))
    var prev = seed.localCheckpoint()
    var rounds = 0
    var stop = false
    try {
      while (!stop && rounds < maxRounds) {
        val next = step(prev).localCheckpoint()
        stop = try done(prev, next) catch { case t: Throwable => drop(next); throw t }
        drop(prev)
        prev = next
        rounds += 1
      }
    } catch { case t: Throwable => drop(prev); throw t }
    blocksOf(prev).foreach(register(_))
    Rounds(prev, rounds, stop)
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
    live.valuesIterator.foreach(_())
    live.clear()
  }

  /** Run `f`, then release every registration made during it ON THIS
    * THREAD — the per-micro-batch scope of every serve
    * ([[graft.streaming.StreamOps.Fold.step]]): each batch's probe
    * checkpoints its candidate set and caches its tokens, the sink
    * materializes the results, and the blocks die with the batch instead
    * of accumulating for the stream's lifetime. Thread-local capture
    * means a CONCURRENT operator (another serving stream in the same
    * JVM) registering inside the window is untouched; nests, restoring
    * the outer scope on exit. The same rule covers [[Standing.inputs]]: what an input
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

package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{DedupOps, GraphOps}

/** Lifecycle and concurrency contract of [[Standing]]: per-key build
  * futures (no global lock), failed builds not cached, artifact slots
  * rebuilt on invalidate / another value / a dead artifact. */
class StandingSpec extends AnyFunSuite with SharedSpark {

  private def inParallel[T](n: Int)(f: Int => T): Seq[T] = {
    val pool = Executors.newFixedThreadPool(n)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence((0 until n).map(i => Future(f(i)))), 60.seconds)
    finally pool.shutdownNow()
  }

  test("N concurrent callers of one key run its build exactly once") {
    val builds = new AtomicInteger
    val dfs = inParallel(8) { _ =>
      Standing.relation("standing_once", SF) {
        builds.incrementAndGet()
        // hold the build open so the other callers arrive mid-build
        Thread.sleep(200)
        spark.range(10).toDF("id")
      }
    }
    assert(builds.get === 1)
    assert(dfs.forall(_ eq dfs.head), "every caller must get the same relation")
    assert(dfs.head.count() === 10L)
  }

  test("distinct keys build concurrently: neither build waits on a global lock") {
    // each build signals its own latch, then needs the OTHER's signal —
    // satisfiable only if both builds are in flight at the same time
    val a = new CountDownLatch(1)
    val b = new CountDownLatch(1)
    def build(mine: CountDownLatch, other: CountDownLatch) = {
      mine.countDown()
      assert(other.await(20, TimeUnit.SECONDS),
        "the other key's build never started: builds are serialized")
      spark.range(3).toDF("id")
    }
    val got = inParallel(2) { i =>
      if (i == 0) Standing.relation("standing_par_a", SF)(build(a, b))
      else Standing.relation("standing_par_b", SF)(build(b, a))
    }
    assert(got.map(_.count()) === Seq(3L, 3L))
  }

  test("a build that throws is not cached: the next call rebuilds") {
    val builds = new AtomicInteger
    val e = intercept[IllegalStateException] {
      Standing.relation("standing_fail", SF) {
        builds.incrementAndGet()
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage === "boom")
    val df = Standing.relation("standing_fail", SF) {
      builds.incrementAndGet()
      spark.range(4).toDF("id")
    }
    assert(df.count() === 4L)
    assert(builds.get === 2)
  }

  test("artifact slots: hit, invalidate, another value and a dead artifact each rebuild as due") {
    val builds = new AtomicInteger
    var live = true
    def ensure(describes: String) =
      Standing.artifact(spark, "standing_spec", "l", describes, _ => live) { base =>
        builds.incrementAndGet()
        base.mkdirs()
      }
    val base = ensure("d1")
    assert(base === Standing.dir(spark, "standing_spec"))
    assert(base.getName.startsWith("graft_standing_spec-"))
    ensure("d1")
    assert(builds.get === 1, "a second call for the same value must not rebuild")
    Standing.invalidate(spark, "standing_spec", "l")
    ensure("d1")
    assert(builds.get === 2, "invalidate must force a rebuild")
    ensure("d2")
    assert(builds.get === 3, "another value rebuilds")
    live = false
    ensure("d2")
    assert(builds.get === 4, "a dead artifact rebuilds")
    live = true
    // relation clear() leaves artifact slots alone
    Standing.clear()
    ensure("d2")
    assert(builds.get === 4)
    // a build that writes through an invalidating path keeps its own slot
    Standing.artifact(spark, "standing_spec", "self", "d1", _ => true) { _ =>
      builds.incrementAndGet()
      Standing.invalidate(spark, "standing_spec", "self")
    }
    Standing.artifact(spark, "standing_spec", "self", "d1", _ => true)(_ =>
      builds.incrementAndGet())
    assert(builds.get === 5)
  }

  test("the nested q95 -> pairs50 build returns the rows of a fresh run") {
    Standing.clear()
    // q95's pr50 build requests pairs50, a different key, from inside it
    val nested = GraphOps.q95(spark, SF).collect().toSeq
    val fresh = GraphOps.pagerank(
        DedupOps.q50Plan(spark, SF).select(col("id_a"), col("id_b")),
        Tables.documents(spark, SF).select(col("doc_id")))
      .collect().toSeq
    assert(nested.nonEmpty)
    assert(nested.sortBy(_.getLong(0)) === fresh.sortBy(_.getLong(0)))
    // and the inner key is now a memo hit holding the same pairs
    assert(DedupOps.pairs50(spark, SF).collect().toSet ===
      DedupOps.q50Plan(spark, SF).collect().toSet)
  }
}

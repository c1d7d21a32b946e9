package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions.col
import org.scalatest.concurrent.Eventually
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{BpeOps, DedupOps, GraphOps, PipelineOps}

/** Lifecycle and concurrency contract of [[Standing]]: per-key build
  * futures (no global lock), failed builds not cached, artifact slots
  * rebuilt on invalidate / another value / a dead artifact, and named
  * inputs built concurrently on per-call threads. */
class StandingSpec extends AnyFunSuite with SharedSpark with Eventually {

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

  /** A build that signals its own latch, then needs the OTHER's signal —
    * two of them complete only if both are in flight at the same time. */
  private def latched(mine: CountDownLatch, other: CountDownLatch) = {
    mine.countDown()
    assert(other.await(20, TimeUnit.SECONDS),
      "the other build never started: the builds ran one after another")
    spark.range(3).toDF("id")
  }

  test("distinct keys build concurrently: neither build waits on a global lock") {
    val a = new CountDownLatch(1)
    val b = new CountDownLatch(1)
    val got = inParallel(2) { i =>
      if (i == 0) Standing.relation("standing_par_a", SF)(latched(a, b))
      else Standing.relation("standing_par_b", SF)(latched(b, a))
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

  test("named inputs overlap: neither waits for the other to finish") {
    val a = new CountDownLatch(1)
    val b = new CountDownLatch(1)
    val got = Standing.inputs(spark)(
      () => Standing.relation("inputs_par_a", SF)(latched(a, b)),
      () => Standing.relation("inputs_par_b", SF)(latched(b, a)))
    assert(got.map(_.count()) === Seq(3L, 3L))
  }

  test("named inputs: a diamond builds its shared key once") {
    val builds = new AtomicInteger
    def shared = Standing.relation("inputs_diamond", SF) {
      builds.incrementAndGet()
      // hold the build open so the other branch arrives mid-build
      Thread.sleep(200)
      spark.range(5).toDF("id")
    }
    val Seq(left, right) = Standing.inputs(spark)(
      () => Standing.relation("inputs_diamond_l", SF)(shared.filter(col("id") < 2)),
      () => Standing.relation("inputs_diamond_r", SF)(shared.filter(col("id") >= 2)))
    assert(builds.get === 1)
    assert(left.count() === 2L && right.count() === 3L)
  }

  test("named inputs: a failed input is rethrown at the consumer and not cached") {
    val builds = new AtomicInteger
    val siblingDone = new AtomicBoolean
    val e = intercept[IllegalStateException] {
      Standing.inputs(spark)(
        () => Standing.relation("inputs_fail", SF) {
          builds.incrementAndGet()
          throw new IllegalStateException("boom")
        },
        () => {
          Thread.sleep(200)
          siblingDone.set(true)
          spark.range(1).toDF("id")
        })
    }
    assert(e.getMessage === "boom")
    assert(siblingDone.get, "the consumer must see the failure only once every input finished")
    val df = Standing.relation("inputs_fail", SF) {
      builds.incrementAndGet()
      spark.range(4).toDF("id")
    }
    assert(df.count() === 4L)
    assert(builds.get === 2, "the failed build must not be cached")
  }

  test("named inputs: input threads carry the caller's job group and no stale execution id") {
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[(String, String)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.job.description") == "standing_input_job")
          jobs.add((e.properties.getProperty("spark.jobGroup.id"),
            e.properties.getProperty(SQLExecution.EXECUTION_ID_KEY)))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup("standing_inputs_group", "spec")
    // a caller inside an SQL execution carries its id; an input thread
    // must not run its own jobs under it
    sc.setLocalProperty(SQLExecution.EXECUTION_ID_KEY, "-42")
    try {
      val Seq((group, execId, thread), _) = Standing.inputs(spark)(
        () => {
          sc.setJobDescription("standing_input_job")
          sc.parallelize(1 to 3).count()
          (sc.getLocalProperty("spark.jobGroup.id"),
            sc.getLocalProperty(SQLExecution.EXECUTION_ID_KEY), Thread.currentThread)
        },
        () => ("", "", Thread.currentThread))
      assert(thread ne Thread.currentThread, "all but the last input run on their own thread")
      assert(group === "standing_inputs_group")
      assert(execId === null)
      assert(sc.getLocalProperty(SQLExecution.EXECUTION_ID_KEY) === "-42",
        "clearing the id on the input thread must leave the caller's alone")
      eventually(timeout(10.seconds)) {
        assert(jobs.asScala.toSeq === Seq(("standing_inputs_group", null)))
      }
    } finally {
      sc.setLocalProperty(SQLExecution.EXECUTION_ID_KEY, null)
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("q152/q158/q173 built through concurrent inputs equal a sequential build") {
    def rows() = Seq(PipelineOps.q152(spark, SF), PipelineOps.q158(spark, SF),
      PipelineOps.q173(spark, SF)).map(_.collect().toSeq)
    Standing.clear()
    val concurrent = rows()
    Standing.clear()
    // build every named input one after another first, so no two
    // builds below overlap
    PipelineOps.q77(spark, SF).count()
    DedupOps.dupSpans8(spark, SF).count()
    BpeOps.docUnits(spark, SF).count()
    BpeOps.chunkMasses(spark, SF).count()
    val sequential = rows()
    assert(concurrent.forall(_.nonEmpty))
    assert(concurrent === sequential)
  }
}

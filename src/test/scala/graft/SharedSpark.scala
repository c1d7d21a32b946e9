package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

trait SharedSpark extends BeforeAndAfterAll { self: Suite =>
  lazy val spark: SparkSession = SharedSpark.session
  /** Smallest scale factor — specs assert semantics, not throughput. */
  val SF = "/root/testdata/sf0.001"

  /** Suites run sequentially in the forked test JVM (no
    * testForkedParallel), so a suite-level blanket release cannot touch
    * another suite's in-flight blocks; within the suite every consumer
    * of a checkpointed plan has already materialized by teardown. */
  override def afterAll(): Unit = {
    CheckpointRegistry.releaseAll()
    Standing.clear()
    super.afterAll()
  }
}

object SharedSpark {
  lazy val session: SparkSession = GraftSession.local(cores = 4, shufflePartitions = 4)
}

package graft
import org.apache.spark.sql.SparkSession

/** Dev-only micro-timer: run each selected op K times in ONE JVM and
  * print every sample with its Spark job count and row count — min-of-K
  * in a warm JVM is the most steal-resistant local signal available (see
  * Bench's noise gate for the committed-artifact version). Not part of
  * the driver contract. */
object DevTime {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val k = sys.env.getOrElse("SPARK_GRAFT_K", "5").toInt
    val spark = GraftSession.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
      })
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val ops = SparkEntry.allOps.filter(op => only.forall(_.contains(op.name)))
    // warm: one pass at sf0.001 (JIT + codegen)
    val warmDir = "/root/testdata/sf0.001"
    ops.foreach { op =>
      try op.fn(spark, warmDir).count() catch { case _: Throwable => () }
    }
    spark.catalog.clearCache(); CheckpointRegistry.releaseAll(); Standing.clear()
    ops.foreach { op =>
      val ts = (1 to k).map { i =>
        val j0 = jobs.get()
        val t0 = System.nanoTime()
        val rows = try op.fn(spark, sfDir).count().toString catch { case e: Throwable =>
          println(s"${op.name} FAILED: ${e.getMessage}"); "-" }
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"DEVTIME ${op.name}%-28s run$i: $dt%.3f s, jobs=${jobs.get() - j0}, rows=$rows")
        CheckpointRegistry.releaseAll()
        dt
      }
      println(f"DEVTIME ${op.name}%-28s min=${ts.min}%.3f  all=[${ts.map(t => f"$t%.2f").mkString(", ")}]")
      spark.catalog.clearCache(); Standing.clear()
    }
    spark.stop()
  }
}

package graft

import graft.etl.Pipeline
import graft.qc.Checks
import org.apache.spark.ListenerDrain
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Spark job counts of the daily-batch entry points, pinned in the
  * shared session (local[4], 4 shuffle partitions, so AQE decides the
  * same way on every host). Job counts repeat exactly from run to run,
  * and at this size the fixed cost per job is the cost: a change that
  * adds a job fails here, and one that removes jobs updates the pin.
  */
class JobCountSpec extends SparkSuite {

  /** Spark jobs started by `body`, counted once the listener bus has
    * delivered every event. */
  private def jobs(body: => Any): Int = {
    val sc = spark.sparkContext
    ListenerDrain.drain(sc)
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    sc.addSparkListener(l)
    try { body; ListenerDrain.drain(sc); n.get } finally sc.removeSparkListener(l)
  }

  private def withOut[T](body: String => T): T = {
    val out = java.nio.file.Files.createTempDirectory("job_count")
    try body(out.toString) finally JavaUtils.deleteRecursively(out.toFile)
  }

  test("runQc on the fixture ETL output runs 7 Spark jobs: one aggregate per table") {
    withOut { out =>
      Pipeline.runEtl(spark, fixture(""), out)
      // 2 schema reads + 2 per table aggregate + 1 error report
      assert(jobs(Pipeline.runQc(spark, out)) === 7)
    }
  }

  test("runEtlObserved runs runEtl's jobs plus its error report: observing adds no job") {
    withOut { out =>
      val etl = jobs(Pipeline.runEtl(spark, fixture(""), s"$out/plain"))
      assert(etl === 11)
      val results = Pipeline.runQc(spark, s"$out/plain")
      val report = jobs(Checks.writeErrorReport(spark, results, s"$out/report"))
      assert(jobs(Pipeline.runEtlObserved(spark, fixture(""), s"$out/observed")) === etl + report)
    }
  }
}

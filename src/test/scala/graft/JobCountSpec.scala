package graft

import graft.etl.Pipeline
import graft.qc.Checks
import org.apache.spark.sql.DataFrame
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
    val out = tempDir("job_count")
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

  test("warm at sf0.001, the daily_batch store ops run pinned construct and exec job counts") {
    val dir = "/root/testdata/sf0.001"
    // (construct jobs, exec jobs) of one warm run, identical over three
    // reps; construct runs the eager checkpoints, copies and publishes
    val pinned = Seq(
      "q_delete_apply" -> ((55, 5)),
      "ann_retrain_apply" -> ((10, 1)),
      "dedup_incremental" -> ((3, 6)))
    def sink(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val counts = pinned.map { case (q, _) =>
      val fn = SparkEntry.queries(q)
      sink(fn(spark, dir)) // stages the fixtures and warms the code paths
      var df: DataFrame = null
      val construct = jobs { df = fn(spark, dir) }
      q -> ((construct, jobs(sink(df))))
    }
    assert(counts === pinned)
  }
}

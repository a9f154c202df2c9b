package graft

import org.apache.spark.sql.execution.FormattedMode

/** Dev-only measurement harness (optimization guide §1: measure first,
  * §1.4: noop sink). Runs named queries N times each in ONE JVM after
  * the same warmup + fixture staging as [[Bench]], printing per-rep
  * construction time (driver-side plan build, incl. any eager
  * driver work a query does) and execution time (noop sink) — the
  * first-vs-warm delta separates codegen/first-plan cost from steady
  * execution, which a single-shot bench value conflates. Optionally
  * dumps explain("formatted") per query for plan-diff evidence.
  *
  * Usage: runMain graft.Probe <sfDir> <reps> <q1,q2,...> [planDir]
  *
  * NOT part of the driver contract: Bench's stdout JSON line and
  * methodology are untouched; this main only reads.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = args(0)
    val reps = args(1).toInt
    val names = args(2).split(",").toSeq
    val planDir = args.lift(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder("graft-probe")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Bench.warmup(spark, sfDir).foreach { w =>
      w.error.foreach(e => println(f"[probe] warmup ${w.name} FAILED: $e"))
    }
    Bench.stageFixtures(spark, sfDir).foreach { st =>
      st.error.foreach(e => println(f"[probe] stage ${st.name} FAILED: $e"))
    }
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      (1 to reps).foreach { i =>
        System.gc()
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val t2 = System.nanoTime()
        println(f"[probe] $name rep=$i construct=${(t1 - t0) / 1e9}%.3f " +
          f"exec=${(t2 - t1) / 1e9}%.3f total=${(t2 - t0) / 1e9}%.3f")
      }
      planDir.foreach { d =>
        val p = java.nio.file.Paths.get(d, s"$name.txt")
        java.nio.file.Files.createDirectories(p.getParent)
        val txt = fn(spark, sfDir).queryExecution.explainString(FormattedMode)
          .replaceAll("0x[0-9A-Fa-f]{64}[0-9A-Fa-f]+", "0x<binary literal elided>")
          .replaceAll("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]", "\\\\0")
        java.nio.file.Files.writeString(p, txt)
        println(s"[probe] wrote plan $p")
      }
    }
    spark.stop()
  }
}

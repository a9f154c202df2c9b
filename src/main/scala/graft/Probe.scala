package graft

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
    val sfDir = args(0)
    val reps = args(1).toInt
    val names = args(2).split(",").toSeq
    val planDir = args.lift(3)
    val spark = Harness.session("graft-probe")
    Harness.warmup(spark, sfDir).foreach { w =>
      w.error.foreach(e => println(f"[probe] warmup ${w.name} FAILED: $e"))
    }
    Bench.stageFixtures(spark, sfDir).foreach { st =>
      st.error.foreach(e => println(f"[probe] stage ${st.name} FAILED: $e"))
    }
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      (1 to reps).foreach { i =>
        val r = Harness.run(name)(fn(spark, sfDir))
        r.error.foreach(e => println(s"[probe] $name rep=$i FAILED: $e"))
        println(f"[probe] $name rep=$i construct=${r.construct}%.3f " +
          f"exec=${r.exec}%.3f total=${r.seconds}%.3f")
      }
      planDir.foreach { d =>
        val p = java.nio.file.Paths.get(d, s"$name.txt")
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, Harness.planText(fn(spark, sfDir)))
        println(s"[probe] wrote plan $p")
      }
    }
    spark.stop()
  }
}

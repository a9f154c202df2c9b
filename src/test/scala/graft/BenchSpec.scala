package graft

/** The bench harness's fixture staging: failures are reported, not
  * swallowed, so a missing fixture cannot silently move its build cost
  * into the first timed entry.
  */
class BenchSpec extends SparkSuite {

  test("fixture staging against a directory without tables reports each failed stage and does not throw") {
    val empty = java.nio.file.Files.createTempDirectory("no_tables")
    val staged = Bench.stageFixtures(spark, empty.toString)
    assert(staged.nonEmpty && staged.forall(_.seconds >= 0.0))
    // every stage but the synthetic gvid container staging reads the
    // corpus tables, so every other stage must report its error
    val failed = staged.filter(_.error.isDefined).map(_.name)
    assert(failed === staged.map(_.name).filterNot(_ == "gvid_stage"))
    // the errors go into BENCH_FULL.json verbatim: nothing to escape
    staged.flatMap(_.error).foreach { e =>
      assert(e.nonEmpty && !e.exists(c => c == '"' || c == '\\' || c.isControl), e)
    }
    val gvid = new java.io.File(s"/tmp/graft_gvid_stage_${empty.toFile.getName}")
    Option(gvid.listFiles()).foreach(_.foreach(_.delete()))
    gvid.delete()
    empty.toFile.delete()
  }
}

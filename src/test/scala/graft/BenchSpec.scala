package graft

/** The bench harness's warmup and fixture staging: failures are
  * reported, not swallowed, so a missing fixture cannot silently move
  * its build cost into the first timed entry.
  */
class BenchSpec extends SparkSuite {

  test("fixture staging against a directory without tables reports each failed stage and does not throw") {
    val empty = java.nio.file.Files.createTempDirectory("no_tables")
    // what staging creates under tmpdir or the fixture root, without the
    // dirs Spark makes for the session itself on first use
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    val fixtures = graft.ops.Scratch.fixtureRoot.toFile
    spark.sparkContext // the shared session's warehouse dir predates the snapshot
    def tmpEntries = (tmp.list().toSet ++ fixtures.list().map(n => s"${fixtures.getName}/$n"))
      .filterNot(n => Seq("artifacts-", "spark-", "blockmgr-").exists(n.startsWith))
    val before = tmpEntries
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
    // a stage whose input read fails creates no fixture dir
    assert(tmpEntries -- before === Set.empty)
    empty.toFile.delete()
  }

  test("warmup against a directory without tables reports every warm query and does not throw") {
    // no sf0.001 beside it, so the warmup reads this directory itself
    val root = java.nio.file.Files.createTempDirectory("no_tables")
    val empty = root.resolve("sf0.1")
    java.nio.file.Files.createDirectory(empty)
    val warmed = Bench.warmup(spark, empty.toString)
    assert(warmed.map(_.name) ===
      Seq("q_agg", "text_quality", "dedup_minhash", "q_tfidf", "q_window_topk"))
    assert(warmed.forall(w => w.error.exists(_.nonEmpty) && w.seconds >= 0.0), warmed)
    empty.toFile.delete()
    root.toFile.delete()
  }
}

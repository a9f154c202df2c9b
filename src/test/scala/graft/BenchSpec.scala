package graft

/** The bench harness's timed run, warmup and fixture staging: failures
  * are recorded, not swallowed or rethrown, so a missing fixture cannot
  * silently move its build cost into the first timed entry and a
  * failing entry cannot read as a fast one.
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
    // a stage whose input read fails creates no fixture dir: the only
    // new entry is the gvid containers' stage, under the fixture root
    val added = tmpEntries -- before
    assert(added.size === 1 && added.head.startsWith(s"${fixtures.getName}/gvid_stage"), added)
    empty.toFile.delete()
  }

  test("warmup against a directory without tables reports every warm query and does not throw") {
    // no sf0.001 beside it, so the warmup reads this directory itself
    val root = java.nio.file.Files.createTempDirectory("no_tables")
    val empty = root.resolve("sf0.1")
    java.nio.file.Files.createDirectory(empty)
    val warmed = Harness.warmup(spark, empty.toString)
    assert(warmed.map(_.name) ===
      Seq("q_agg", "text_quality", "dedup_minhash", "q_tfidf", "q_window_topk"))
    assert(warmed.forall(w => w.error.exists(_.nonEmpty) && w.seconds >= 0.0), warmed)
    empty.toFile.delete()
    root.toFile.delete()
  }

  test("Harness.run times construct and exec apart and records an entry's error instead of throwing") {
    val ok = Harness.run("ok") { Thread.sleep(50); spark.range(1000).toDF() }
    assert(ok.name === "ok" && ok.error.isEmpty, ok)
    // the query function's own work is construct; the sink is exec
    assert(ok.construct >= 0.05 && ok.exec > 0.0 && ok.seconds === ok.construct + ok.exec, ok)
    // a failure in the sink keeps the construct time it measured
    val failed = Harness.run("bad")(spark.range(10).selectExpr("raise_error('boom')"))
    assert(failed.error.exists(_.nonEmpty) && failed.exec > 0.0, failed)
    // a failure while constructing is all construct
    val unbuilt = Harness.run("unbuilt")(spark.table("no_such_table"))
    assert(unbuilt.error.exists(_.contains("no_such_table")) && unbuilt.exec === 0.0, unbuilt)
    // fatal errors are recorded too: one deep query must not end the run
    val deep = Harness.run("deep")(throw new StackOverflowError("too deep"))
    assert(deep.error.exists(_.contains("StackOverflowError")), deep)
    Seq(failed, unbuilt, deep).flatMap(_.error).foreach { e =>
      assert(!e.exists(c => c == '"' || c == '\\' || c.isControl) && e.length <= 160, e)
    }
  }
}

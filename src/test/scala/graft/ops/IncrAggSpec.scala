package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Incremental aggregate maintenance: merge algebra, partition scoping,
  * and the read-only driver view.
  */
class IncrAggSpec extends SparkSuite {
  val dir = "/root/testdata/sf0.001"

  private def eventsWithDay = graft.Tables.events(spark, dir)
    .withColumn("d", to_date(col("ts")).cast("string"))

  private def daySplits: (String, String) = {
    val days = eventsWithDay.select("d").distinct()
      .collect().map(_.getString(0)).sorted
    (days(days.length / 3), days(2 * days.length / 3))
  }

  test("sequential batch merges equal the full-history aggregate") {
    val (s1, s2) = daySplits
    val ev = eventsWithDay
    val mv = java.nio.file.Files.createTempDirectory("incr_mv_seq").toString
    IncrAgg.init(ev.filter(col("d") < s1).drop("d"), mv)
    IncrAgg.merge(spark, mv, ev.filter(col("d") >= s1 && col("d") < s2).drop("d"))
    IncrAgg.merge(spark, mv, ev.filter(col("d") >= s2).drop("d"))

    val got = spark.read.parquet(mv)
      .select("day", "event_type", "n_events", "sum_value")
      .collect().map(_.toString).sorted
    val want = IncrAgg.partial(graft.Tables.events(spark, dir))
      .select("day", "event_type", "n_events", "sum_value")
      .collect().map(_.toString).sorted
    assert(got.nonEmpty && got.toSeq === want.toSeq)
  }

  test("a merge rewrites ONLY the day partitions the batch touches") {
    val (s1, _) = daySplits
    val ev = eventsWithDay
    val mv = java.nio.file.Files.createTempDirectory("incr_mv_scope").toString
    IncrAgg.init(ev.filter(col("d") < s1).drop("d"), mv)

    def partitionFiles(): Map[String, Set[(String, Long)]] =
      new java.io.File(mv).listFiles().filter(_.getName.startsWith("day="))
        .map(d => d.getName -> d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => (f.getName, f.lastModified())).toSet).toMap

    val before = partitionFiles()
    IncrAgg.merge(spark, mv, ev.filter(col("d") >= s1).drop("d"))
    val after = partitionFiles()

    val touchedDays = ev.filter(col("d") >= s1)
      .select("d").distinct().collect().map("day=" + _.getString(0)).toSet
    // every pre-existing untouched partition keeps its exact files
    before.keys.filterNot(touchedDays).foreach { day =>
      assert(after(day) === before(day), s"$day was rewritten")
    }
    // and at least one new (touched) partition appeared
    assert((after.keySet -- before.keySet).nonEmpty)
  }

  test("streaming maintenance equals the full aggregate and survives redelivery") {
    val streamDir = java.nio.file.Files.createTempDirectory("incr_mv_stream")
    val raw = spark.read.schema(graft.streaming.Streaming.eventsRawSchema)
      .parquet(s"$dir/events.parquet")
    val mid = raw.stat.approxQuantile("ts", Array(0.5), 0.0)(0).toLong
    raw.filter(col("ts") <= mid).coalesce(1)
      .write.parquet(streamDir.resolve("b1").toString)
    raw.filter(col("ts") > mid).coalesce(1)
      .write.parquet(streamDir.resolve("b2").toString)
    val mv = streamDir.resolve("mv").toString
    val ckpt = streamDir.resolve("ckpt").toString

    IncrAgg.maintainStream(spark, s"$streamDir/b*", mv, ckpt)
    def mvRows = spark.read.parquet(mv)
      .select("day", "event_type", "n_events", "sum_value")
      .collect().map(_.toString).sorted.toSeq
    val want = IncrAgg.partial(graft.Tables.events(spark, dir))
      .select("day", "event_type", "n_events", "sum_value")
      .collect().map(_.toString).sorted.toSeq
    assert(mvRows === want)

    // a fresh checkpoint replays every file with already-ledgered batch
    // ids: the additive merge must NOT re-apply them
    IncrAgg.maintainStream(spark, s"$streamDir/b*",
      mv, streamDir.resolve("ckpt2").toString)
    assert(mvRows === want)

    // a genuinely new file under the ORIGINAL checkpoint continues the
    // batch sequence and merges in
    // noon UTC keeps the calendar date stable in any session timezone
    val extraUs = java.time.LocalDate.of(2031, 1, 1).atTime(12, 0)
      .toInstant(java.time.ZoneOffset.UTC).getEpochSecond * 1000000L
    import spark.implicits._
    Seq((900001L, extraUs, 7L, "view", 5.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(streamDir.resolve("b3").toString)
    IncrAgg.maintainStream(spark, s"$streamDir/b*", mv, ckpt)
    val after = spark.read.parquet(mv)
    assert(after.filter(col("day") === java.sql.Date.valueOf("2031-01-01"))
      .count() === 1)
    assert(after.count() === want.length + 1)
  }

  test("the read-only merged view equals the post-merge table") {
    val (s1, s2) = daySplits
    val ev = eventsWithDay
    val mv = java.nio.file.Files.createTempDirectory("incr_mv_view").toString
    IncrAgg.init(ev.filter(col("d") < s1).drop("d"), mv)
    val batch = ev.filter(col("d") >= s1 && col("d") < s2).drop("d")

    val view = IncrAgg.mergedView(spark, mv, batch)
      .select("day", "event_type", "n_events", "sum_value")
      .collect().map(_.toString).sorted
    IncrAgg.merge(spark, mv, batch)
    val disk = spark.read.parquet(mv)
      .select("day", "event_type", "n_events", "sum_value")
      .collect().map(_.toString).sorted
    assert(view.nonEmpty && view.toSeq === disk.toSeq)
  }

  test("sketch view estimates equal a full recompute after incremental merges") {
    val dir = "/root/testdata/sf0.001"
    val ev = graft.Tables.events(spark, dir).withColumn("d", to_date(col("ts")))
    val days = ev.select(col("d").cast("string")).distinct()
      .collect().map(_.getString(0)).sorted
    val (d1, d2) = (days(days.length / 3), days(days.length * 2 / 3))
    val mv = java.nio.file.Files.createTempDirectory("hllmv_spec").toString
    IncrAgg.sketchInit(ev.filter(col("d").cast("string") < d1), mv)
    // two successive merged views, the second stacked on a published first
    val afterB1 = IncrAgg.sketchMergedView(spark, mv,
      ev.filter(col("d").cast("string") >= d1 && col("d").cast("string") < d2))
    afterB1.write.mode("overwrite").parquet(mv + "2")
    val afterB2 = IncrAgg.sketchMergedView(spark, mv + "2",
      ev.filter(col("d").cast("string") >= d2))
    def estimates(df: org.apache.spark.sql.DataFrame) = df
      .select(col("day"), col("event_type"),
        graft.functions.Hll.estimate(col("users_sk")).as("est"),
        col("n_events"))
      .collect().map(_.toString).sorted.toSeq
    val full = IncrAgg.sketchPartial(graft.Tables.events(spark, dir))
    assert(estimates(afterB2) === estimates(full))
    // the estimate is actually close to truth on this data
    val est = afterB2
      .agg(graft.functions.Hll.mergeAgg(col("users_sk")).as("sku"))
      .select(graft.functions.Hll.estimate(col("sku")))
      .head().getLong(0)
    val exact = ev.select(countDistinct("user_id")).head().getLong(0)
    assert(math.abs(est - exact).toDouble / exact < 0.05, s"est $est vs exact $exact")
  }

  test("q_incr_agg and q_hll_view stage their views under the fixture root, not directly in java.io.tmpdir") {
    // a corpus dir of its own, so neither view is already cached
    val corpus = java.nio.file.Files.createTempDirectory("incr_agg_corpus")
    java.nio.file.Files.createSymbolicLink(corpus.resolve("events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def views(d: java.io.File) = d.list().toSet
      .filter(n => n.startsWith("incr_agg_mv") || n.startsWith("hll_mv"))
    val before = views(tmp)
    val fixturesBefore = views(Scratch.fixtureRoot.toFile)
    assert(IncrAgg.qIncrAgg(spark, corpus.toString).count() > 0)
    assert(IncrAgg.qHllView(spark, corpus.toString).count() > 0)
    assert(views(tmp) -- before === Set.empty)
    assert((views(Scratch.fixtureRoot.toFile) -- fixturesBefore).map(_.takeWhile(!_.isDigit)) ===
      Set("incr_agg_mv", "hll_mv"))
    // the link only, never the table it points to
    java.nio.file.Files.delete(corpus.resolve("events.parquet"))
    java.nio.file.Files.delete(corpus)
  }
}

package graft.streaming

import graft.{SparkSuite, Tables}
import org.apache.spark.sql.functions._

/** Streaming semantics: the file stream must produce exactly the batch
  * result (same shared transform), and sessionization must respect gaps.
  */
class StreamingSpec extends SparkSuite {
  val dir = "/root/testdata/sf0.001"

  test("file stream with AvailableNow equals the batch aggregation") {
    // FileStreamSource wants a directory; stage the events file into one
    val streamDir = tempDir("events_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("events.parquet"))
    Streaming.runFileStream(spark, streamDir.toString, "stream_out")
    val streamed = spark.table("stream_out")
      .orderBy("window_start", "event_type").collect().map(_.toString)
    val batch = Streaming.qStreamWindow(spark, dir).collect().map(_.toString)
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq)
  }

  test("watermark-dedup stream over duplicated delivery equals exactly-once totals") {
    import org.apache.spark.sql.functions._
    // stage a feed that redelivers part of the events (exact copies), the
    // way an at-least-once source does
    val streamDir = tempDir("events_dedup_stream")
    val raw = spark.read.schema(Streaming.eventsRawSchema).parquet(s"$dir/events.parquet")
    raw.write.parquet(streamDir.resolve("b1").toString)
    raw.filter(pmod(col("event_id"), lit(20)) === 7)
      .write.parquet(streamDir.resolve("b2").toString)
    Streaming.runDedupDeliveryStream(spark, s"$streamDir/*", "dedup_delivery_out")
    val streamed = spark.table("dedup_delivery_out")
      .orderBy("event_type").collect().map(_.toString)
    // exactly-once ground truth: totals over the ORIGINAL events
    val truth = Streaming.dedupedTypeTotals(graft.Tables.events(spark, dir))
      .orderBy("event_type").collect().map(_.toString)
    // and the batch driver query over the duplicated feed agrees too
    val batch = Streaming.qStreamDedup(spark, dir).collect().map(_.toString)
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === truth.toSeq)
    assert(batch.toSeq === truth.toSeq)
  }

  test("streaming as-of enrichment through the custom exec equals the full-batch run") {
    import org.apache.spark.sql.functions._
    val streamDir = tempDir("asof_stream")
    val raw = spark.read.schema(Streaming.eventsRawSchema).parquet(s"$dir/events.parquet")
    // two files -> two micro-batches
    raw.filter(pmod(col("event_id"), lit(2)) === 0).write.parquet(streamDir.resolve("b1").toString)
    raw.filter(pmod(col("event_id"), lit(2)) === 1).write.parquet(streamDir.resolve("b2").toString)
    val dim = graft.Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value").as("last_purchase"))
    val outDir = tempDir("asof_out").toString + "/enriched"
    Streaming.runAsofEnrichStream(spark, s"$streamDir/*", dim, outDir)
    val streamed = spark.read.parquet(outDir)
      .collect().map(_.toString).sorted.toSeq
    val full = graft.ops.Asof.joinLastExec(
      graft.Tables.events(spark, dir).select("event_id", "user_id", "ts"),
      dim, "user_id", "ts", Seq("last_purchase"))
      .collect().map(_.toString).sorted.toSeq
    assert(streamed.nonEmpty)
    assert(streamed === full, "static-dim as-of is batch-decomposable")
  }

  test("sliding-window stream equals the batch sliding aggregation") {
    val streamDir = tempDir("events_sliding_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("events.parquet"))
    Streaming.runSlidingStream(spark, streamDir.toString, "sliding_out")
    val streamed = spark.table("sliding_out")
      .orderBy("window_start", "event_type").collect().map(_.toString)
    val batch = Streaming.qSlidingWindow(spark, dir).collect().map(_.toString)
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq)
  }

  test("stream-stream join equals the batch join") {
    val streamDir = tempDir("events_join_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("events.parquet"))
    Streaming.runStreamJoin(spark, streamDir.toString, "stream_join_out")
    val streamed = spark.table("stream_join_out")
      .orderBy("purchase_id", "view_id").collect().map(_.toString)
    val batch = Streaming.qStreamJoin(spark, dir).collect().map(_.toString)
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq)
  }

  test("stream-stream LEFT OUTER join + heartbeat flush equals the batch left join") {
    import spark.implicits._
    val streamDir = tempDir("events_leftjoin_stream")
    val raw = spark.read.schema(Streaming.eventsRawSchema).parquet(s"$dir/events.parquet")
    raw.write.parquet(streamDir.resolve("b1").toString)
    // heartbeats 2h past the end of the feed, one per join side on
    // reserved users that can never match (see runStreamLeftJoin's
    // scaladoc for why a neutral event type would be filtered BELOW the
    // watermark and advance nothing). They push both watermarks past
    // every real view's match deadline; the rollup below drops the
    // sentinel users. Without them the last hour of views stays in state.
    val maxTs = raw.agg(max(col("ts"))).first().getLong(0)
    val hbTs = maxTs + 2L * 3600L * 1000000L
    Seq((-2L, hbTs, -1L, "view", 0.0, "{}"), (-3L, hbTs, -2L, "purchase", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(streamDir.resolve("b2").toString)
    Streaming.runStreamLeftJoin(spark, s"$streamDir/*", "stream_left_join_out")
    val streamed = spark.table("stream_left_join_out")
      .filter(col("user_id") >= 0)
      .groupBy(col("user_id"))
      .agg(
        countDistinct(col("view_id")).as("n_views"),
        count(col("purchase_id")).as("n_matched_rows"),
        sum(when(col("purchase_id").isNull, 1L).otherwise(0L)).as("n_unmatched_views"))
      .orderBy("user_id").collect().map(_.toString)
    val batch = Streaming.qStreamLeftJoin(spark, dir).collect().map(_.toString)
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq)
    // the outer side really fires: some views never convert
    val unmatched = spark.table("stream_left_join_out")
      .filter(col("user_id") >= 0 && col("purchase_id").isNull).count()
    assert(unmatched > 0)
  }

  test("transformWithState milestones across time-split batches equal the batch window form") {
    import spark.implicits._
    val streamDir = tempDir("events_milestone_stream")
    val raw = spark.read.schema(Streaming.eventsRawSchema).parquet(s"$dir/events.parquet")
    // split the feed by TIME into two files: batch 2 must pick up each
    // user's running total from batch 1's state, not restart it
    val midTs = raw.stat.approxQuantile("ts", Array(0.5), 0.0)(0).toLong
    // one file per half: with maxFilesPerTrigger=1 each half is exactly
    // one micro-batch, so processing order matches event-time order
    raw.filter(col("ts") <= midTs).coalesce(1)
      .write.parquet(streamDir.resolve("b1").toString)
    raw.filter(col("ts") > midTs).coalesce(1)
      .write.parquet(streamDir.resolve("b2").toString)
    Streaming.runMilestoneStream(spark, s"$streamDir/*", "milestone_out")
    val streamed = spark.table("milestone_out")
      .orderBy("user_id", "event_id").collect().map(_.toString)
    val batch = Streaming.qMilestones(spark, dir).collect().map(_.toString)
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq)
    // milestones really span both halves (state carried across batches)
    val firstHalfOnly = Streaming.milestonesBatch(
      graft.Tables.events(spark, dir).filter(col("ts") <= expr(s"timestamp_micros($midTs)")))
      .count()
    assert(firstHalfOnly < batch.length)
  }

  test("event-time timers: internal gaps match batch, every user gets one trailing silence") {
    import spark.implicits._
    val streamDir = tempDir("events_inact_stream")
    val raw = spark.read.schema(Streaming.eventsRawSchema).parquet(s"$dir/events.parquet")
    val midTs = raw.stat.approxQuantile("ts", Array(0.5), 0.0)(0).toLong
    raw.filter(col("ts") <= midTs).coalesce(1)
      .write.parquet(streamDir.resolve("b1").toString)
    raw.filter(col("ts") > midTs).coalesce(1)
      .write.parquet(streamDir.resolve("b2").toString)
    // heartbeat 3h past the end: advances the watermark past every
    // user's last_ts + 2h deadline so the trailing timers fire
    val maxTs = raw.agg(max(col("ts"))).first().getLong(0)
    Seq((-20L, maxTs + 3L * 3600L * 1000000L, -1L, "flush", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(streamDir.resolve("b3").toString)
    Streaming.runInactivityStream(spark, s"$streamDir/*", "inactivity_out")
    val streamGaps = spark.table("inactivity_out")
      .filter(col("user_id") >= 0 && col("kind") === "gap")
      .select("user_id", "after_event_id", "silent_from_ms")
      .orderBy("user_id", "silent_from_ms").collect().map(_.toString)
    val batch = Streaming.qInactivity(spark, dir).collect().map(_.toString)
    assert(streamGaps.nonEmpty)
    assert(streamGaps.toSeq === batch.toSeq)
    // exactly one watermark-fired trailing silence per real user, at
    // that user's last event + 2h
    val trailing = spark.table("inactivity_out")
      .filter(col("user_id") >= 0 && col("kind") === "trailing")
      .select("user_id", "silent_from_ms")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lastPerUser = graft.Tables.events(spark, dir)
      .groupBy("user_id").agg(max(unix_millis(col("ts"))).as("last_ms"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1) + Streaming.InactivityGapMs)).toMap
    assert(trailing === lastPerUser)
  }

  test("ListState burst detection across time-split batches equals the batch RANGE frame") {
    import spark.implicits._
    val streamDir = tempDir("events_burst_stream")
    val raw = spark.read.schema(Streaming.eventsRawSchema).parquet(s"$dir/events.parquet")
    val midTs = raw.stat.approxQuantile("ts", Array(0.5), 0.0)(0).toLong
    raw.filter(col("ts") <= midTs).coalesce(1)
      .write.parquet(streamDir.resolve("b1").toString)
    raw.filter(col("ts") > midTs).coalesce(1)
      .write.parquet(streamDir.resolve("b2").toString)
    Streaming.runBurstStream(spark, s"$streamDir/*", "burst_out")
    val streamed = spark.table("burst_out")
      .orderBy("user_id", "event_id").collect().map(_.toString)
    val batch = Streaming.qBurst(spark, dir).collect().map(_.toString)
    assert(batch.nonEmpty, "test data should contain error bursts")
    assert(streamed.toSeq === batch.toSeq)
  }

  test("burst processor matches the RANGE frame on timestamp ties") {
    import spark.implicits._
    // three events share one timestamp: the tie-inclusive RANGE frame
    // gives ALL of them n_in_window=3, so all three clear the threshold —
    // including the first in (ts, event_id) order, which a sequential
    // count would under-report (n=1)
    val h = 3600L * 1000000L // one hour of raw micros
    val t0 = 1700000000L * 1000000L
    val raw = Seq(
      (1L, t0, 99L, "error", 0.0, "{}"),
      (2L, t0, 99L, "error", 0.0, "{}"),
      (3L, t0, 99L, "error", 0.0, "{}"),
      (4L, t0 + h / 6, 99L, "error", 0.0, "{}"), // +10 min: window now holds 4
      (5L, t0 + 3 * h, 99L, "error", 0.0, "{}")) // beyond the window: alone, no burst
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val streamDir = tempDir("events_burst_ties")
    raw.coalesce(1).write.parquet(streamDir.resolve("b1").toString)

    Streaming.runBurstStream(spark, s"$streamDir/*", "burst_ties_out")
    val streamed = spark.table("burst_ties_out")
      .orderBy("event_id").collect().map(_.toString)
    val batch = Streaming.burstBatch(Streaming.normalize(raw))
      .orderBy("event_id").collect().map(_.toString)
    assert(batch.map(_.toString).toSeq ===
      Seq(Streaming.Burst(99L, 1L, 3), Streaming.Burst(99L, 2L, 3),
        Streaming.Burst(99L, 3L, 3), Streaming.Burst(99L, 4L, 4))
        .map(b => s"[${b.user_id},${b.event_id},${b.n_in_window}]"))
    assert(streamed.toSeq === batch.toSeq)
  }

  test("watermark dedup in front of the stateful processor survives redelivery") {
    import spark.implicits._
    val streamDir = tempDir("events_redeliver_state")
    val raw = spark.read.schema(Streaming.eventsRawSchema).parquet(s"$dir/events.parquet")
    val midTs = raw.stat.approxQuantile("ts", Array(0.5), 0.0)(0).toLong
    raw.filter(col("ts") <= midTs).coalesce(1)
      .write.parquet(streamDir.resolve("b1").toString)
    // an at-least-once source REDELIVERS part of batch 1 — without the
    // upstream dedup the running totals would double-count these
    raw.filter(col("ts") <= midTs && pmod(col("event_id"), lit(5)) === 2).coalesce(1)
      .write.parquet(streamDir.resolve("b1_replay").toString)
    raw.filter(col("ts") > midTs).coalesce(1)
      .write.parquet(streamDir.resolve("b2").toString)
    Streaming.runMilestoneStream(spark, s"$streamDir/*", "milestone_dedup_out",
      dedupeInput = true)
    val streamed = spark.table("milestone_dedup_out")
      .orderBy("user_id", "event_id").collect().map(_.toString)
    val batch = Streaming.qMilestones(spark, dir).collect().map(_.toString)
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq)
  }

  test("MapState first-touch across time-split batches equals the batch arg-min") {
    import spark.implicits._
    val streamDir = tempDir("events_ft_stream")
    val raw = spark.read.schema(Streaming.eventsRawSchema).parquet(s"$dir/events.parquet")
    val midTs = raw.stat.approxQuantile("ts", Array(0.5), 0.0)(0).toLong
    raw.filter(col("ts") <= midTs).coalesce(1)
      .write.parquet(streamDir.resolve("b1").toString)
    raw.filter(col("ts") > midTs).coalesce(1)
      .write.parquet(streamDir.resolve("b2").toString)
    Streaming.runFirstTouchStream(spark, s"$streamDir/*", "first_touch_out")
    val streamed = spark.table("first_touch_out")
      .orderBy("user_id", "event_type").collect().map(_.toString)
    val batch = Streaming.qFirstTouch(spark, dir).collect().map(_.toString)
    assert(streamed.nonEmpty)
    // the seen-map must suppress batch-2 re-emissions of types already
    // touched in batch 1
    assert(streamed.toSeq === batch.toSeq)
  }

  test("stateful stream restarts from its checkpoint: resumed state, no reprocessing") {
    import spark.implicits._
    val streamDir = tempDir("events_ckpt_stream")
    val ckpt = tempDir("events_ckpt_loc").toString
    val raw = spark.read.schema(Streaming.eventsRawSchema).parquet(s"$dir/events.parquet")
    val midTs = raw.stat.approxQuantile("ts", Array(0.5), 0.0)(0).toLong
    raw.filter(col("ts") <= midTs).coalesce(1)
      .write.parquet(streamDir.resolve("b1").toString)
    val outPath = tempDir("events_ckpt_out").toString
    // run 1: first half only, then the query STOPS (AvailableNow drains)
    Streaming.runMilestoneStreamToFiles(spark, s"$streamDir/*", outPath, ckpt)
    val out1 = spark.read.parquet(outPath).collect().map(_.toString)
    // second half arrives while the query is down
    raw.filter(col("ts") > midTs).coalesce(1)
      .write.parquet(streamDir.resolve("b2").toString)
    // run 2 from the SAME checkpoint: committed offsets skip b1, RocksDB
    // state resumes each user's running total mid-stream
    Streaming.runMilestoneStreamToFiles(spark, s"$streamDir/*", outPath, ckpt)
    val all = spark.read.parquet(outPath).collect().map(_.toString)
    assert(out1.nonEmpty && all.length > out1.length)
    // exactly-once: run 2 only appended b2's milestones (no re-emission),
    // and the final sink content is exactly the batch truth
    val batch = Streaming.qMilestones(spark, dir).collect().map(_.toString)
    assert(all.sorted.toSeq === batch.sorted.toSeq)
    // the first run's rows are a strict subset carried through unchanged
    assert(out1.toSet.subsetOf(all.toSet))
  }

  test("built-in session_window stream equals the batch run and the custom sessionizer") {
    import spark.implicits._
    val streamDir = tempDir("events_sesswin_stream")
    val raw = spark.read.schema(Streaming.eventsRawSchema).parquet(s"$dir/events.parquet")
    raw.write.parquet(streamDir.resolve("b1").toString)
    // heartbeat on a sentinel user 2h past the end closes every real
    // session; its own session never closes so it never emits
    val maxTs = raw.agg(max(col("ts"))).first().getLong(0)
    Seq((-10L, maxTs + 2L * 3600L * 1000000L, -1L, "view", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(streamDir.resolve("b2").toString)
    Streaming.runSessionWindowStream(spark, s"$streamDir/*", "sesswin_out")
    val streamed = spark.table("sesswin_out")
      .filter(col("user_id") >= 0)
      .orderBy("user_id", "session_start").collect().map(_.toString)
    val batch = Streaming.qSessionWindow(spark, dir).collect().map(_.toString)
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq)
    // cross-validation: the built-in generator agrees with the custom
    // flatMapGroupsWithState sessionizer
    val custom = Streaming.qSessionize(spark, dir).collect().map(_.toString)
    assert(batch.toSeq === custom.toSeq)
  }

  test("stream-static broadcast enrichment equals the batch rollup") {
    val streamDir = tempDir("events_enrich_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("events.parquet"))
    Streaming.runEnrichedStream(spark, streamDir.toString, "stream_enrich_out")
    val streamed = spark.table("stream_enrich_out")
      .orderBy("category").collect().map(_.toString)
    val batch = Streaming.qStreamEnrich(spark, dir).collect().map(_.toString)
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq)
  }

  test("sessionize splits on >30min gaps and keeps totals per session") {
    import spark.implicits._
    def ev(id: Long, minute: Long, uid: Long, v: Double) = Streaming.Event(
      id, new java.sql.Timestamp(minute * 60000L), uid, "view", v)
    val events = Seq(
      ev(1, 0, 1, 1.0), ev(2, 10, 1, 2.0),  // session A: 2 events
      ev(3, 60, 1, 4.0),                    // gap 50min -> session B
      ev(4, 0, 2, 8.0)                      // other user
    ).toDS()
    val sessions = Streaming.sessionizeBatch(events)
      .collect().sortBy(s => (s.user_id, s.session_start))
    assert(sessions.length === 3)
    assert(sessions(0).n_events === 2 && sessions(0).total_value === 3.0)
    assert(sessions(1).n_events === 1 && sessions(1).total_value === 4.0)
    assert(sessions(2).user_id === 2L)
  }

  test("streaming dedup emits each content hash once across micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val stageDir = tempDir("docs_stream")
    // two files -> two micro-batches, duplicates within and across
    Seq((1L, "h1"), (2L, "h2"), (3L, "h1")).toDF("doc_id", "content_hash")
      .coalesce(1).write.parquet(stageDir.resolve("b1").toString)
    Seq((4L, "h2"), (5L, "h3")).toDF("doc_id", "content_hash")
      .coalesce(1).write.parquet(stageDir.resolve("b2").toString)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("content_hash", org.apache.spark.sql.types.StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$stageDir/*")
      .as[Streaming.Doc]
    val q = Streaming.dedupStream(stream)
      .writeStream.outputMode("append").format("memory").queryName("dedup_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val out = spark.table("dedup_out").collect()
      .map(r => r.getString(1)).toSeq
    assert(out.sorted === Seq("h1", "h2", "h3"))
  }

  test("batch sessionize covers every event exactly once") {
    val total = Streaming.qSessionize(spark, dir)
      .agg(sum(col("n_events"))).first().getLong(0)
    assert(total === Tables.events(spark, dir).count())
  }

  test("streaming CDC apply merges micro-batches into only the touched partitions") {
    import spark.implicits._
    val root = tempDir("cdc")
    val tablePath = root.resolve("table").toString
    val changesDir = root.resolve("changes")
    java.nio.file.Files.createDirectory(changesDir)

    // initial partitioned table: 3 days, 2 rows each
    val init = Seq(
      (1L, 10L, 1.0, "2024-01-01"), (2L, 11L, 2.0, "2024-01-01"),
      (3L, 10L, 3.0, "2024-01-02"), (4L, 12L, 4.0, "2024-01-02"),
      (5L, 13L, 5.0, "2024-01-03"), (6L, 10L, 6.0, "2024-01-03"),
    ).toDF("event_id", "user_id", "value", "day")
    init.write.partitionBy("day").parquet(tablePath)

    def files(day: String) = new java.io.File(s"$tablePath/day=$day").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => (f.getName, f.length, f.lastModified))
      .sortBy(_._1).toSeq
    val day3Before = files("2024-01-03")

    // two change files -> two micro-batches: batch 1 updates day 1,
    // batch 2 updates day 2 and inserts a new row into day 2
    Seq((1L, 10L, 100.0, "2024-01-01"))
      .toDF("event_id", "user_id", "value", "day")
      .coalesce(1).write.parquet(changesDir.resolve("c1").toString)
    Seq((4L, 12L, 400.0, "2024-01-02"), (7L, 14L, 7.0, "2024-01-02"))
      .toDF("event_id", "user_id", "value", "day")
      .coalesce(1).write.parquet(changesDir.resolve("c2").toString)

    Streaming.runChangeApply(spark, s"$changesDir/*", tablePath)

    val got = spark.read.parquet(tablePath)
      .select("event_id", "user_id", "value", "day")
      .as[(Long, Long, Double, String)].collect().sortBy(_._1)
    assert(got === Array(
      (1L, 10L, 100.0, "2024-01-01"), (2L, 11L, 2.0, "2024-01-01"),
      (3L, 10L, 3.0, "2024-01-02"), (4L, 12L, 400.0, "2024-01-02"),
      (5L, 13L, 5.0, "2024-01-03"), (6L, 10L, 6.0, "2024-01-03"),
      (7L, 14L, 7.0, "2024-01-02")))
    // the day no batch touched kept its exact files
    assert(files("2024-01-03") === day3Before)
  }

  test("streaming HLL distinct-user windows equal the batch sketch exactly") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val streamDir = tempDir("events_distinct_stream")
    val raw = spark.read.schema(Streaming.eventsRawSchema).parquet(s"$dir/events.parquet")
    val midTs = raw.stat.approxQuantile("ts", Array(0.5), 0.0)(0).toLong
    raw.filter(col("ts") <= midTs).coalesce(1)
      .write.parquet(streamDir.resolve("b1").toString)
    raw.filter(col("ts") > midTs).coalesce(1)
      .write.parquet(streamDir.resolve("b2").toString)
    // heartbeat 4h past the end pushes the watermark beyond every real
    // window's close so append mode emits the tail
    val maxTs = raw.agg(max(col("ts"))).first().getLong(0)
    Seq((-30L, maxTs + 4L * 3600L * 1000000L, -1L, "flush", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(streamDir.resolve("b3").toString)
    Streaming.runDistinctUsersStream(spark, s"$streamDir/*", "distinct_users_out")
    val batch = Streaming.qStreamDistinct(spark, dir)
      .collect().map(_.toString)
    val lastRealWindow = batch.length
    val streamed = spark.table("distinct_users_out")
      .orderBy("window_start").collect().map(_.toString)
      .take(lastRealWindow) // drop the heartbeat's own window
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq)
    // the estimate tracks exact distinct within 5% per window
    val exact = graft.Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(countDistinct("user_id").as("n"))
      .select(unix_timestamp(col("window.start")).as("ws"), col("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Streaming.qStreamDistinct(spark, dir).collect().foreach { r =>
      val (ws, est) = (r.getLong(0), r.getLong(1))
      val ex = exact(ws)
      assert(math.abs(est - ex).toDouble / math.max(ex, 1L) < 0.05,
        s"window $ws: est $est vs exact $ex")
    }
  }

  test("streaming value histograms equal the batch sketch; medians follow") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val streamDir = tempDir("events_hist_stream")
    val raw = spark.read.schema(Streaming.eventsRawSchema).parquet(s"$dir/events.parquet")
    val midTs = raw.stat.approxQuantile("ts", Array(0.5), 0.0)(0).toLong
    raw.filter(col("ts") <= midTs).coalesce(1)
      .write.parquet(streamDir.resolve("b1").toString)
    raw.filter(col("ts") > midTs).coalesce(1)
      .write.parquet(streamDir.resolve("b2").toString)
    // heartbeat 4h past the end closes every real window under the 2h
    // watermark. It must carry a NON-NULL value: the value-not-null
    // filter pushes below the EventTimeWatermark node, so a null-value
    // heartbeat would be dropped before the watermark stats see it and
    // the tail windows would never emit (observed). Its own window
    // never closes, so it still stays out of the emitted histograms.
    val maxTs = raw.agg(max(col("ts"))).first().getLong(0)
    Seq((-31L, maxTs + 4L * 3600L * 1000000L, -1L, "flush", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(streamDir.resolve("b3").toString)
    Streaming.runValueHistStream(spark, s"$streamDir/*", "value_hist_out")
    val batchHist = Streaming.hourlyValueHist(graft.Tables.events(spark, dir))
      .orderBy("window_start", "bucket").collect().map(_.toString)
    val streamedHist = spark.table("value_hist_out")
      .orderBy("window_start", "bucket").collect().map(_.toString)
    assert(streamedHist.nonEmpty)
    assert(streamedHist.toSeq === batchHist.toSeq)
    // each window's bucket-midpoint median sits within half a bucket
    // of the exact LOWER median (the same rank the bucket rule targets)
    val exactLower = graft.Tables.events(spark, dir).filter(col("value").isNotNull)
      .select(unix_timestamp(date_trunc("hour", col("ts"))).as("ws"), col("value"))
      .as[(Long, Double)].collect().groupBy(_._1)
      .map { case (ws, vs) =>
        val sorted = vs.map(_._2).sorted
        ws -> sorted((sorted.length + 1) / 2 - 1)
      }
    Streaming.qStreamHist(spark, dir).collect().foreach { r =>
      val (ws, med) = (r.getLong(0), r.getDouble(2))
      assert(math.abs(med - exactLower(ws)) <= 2.51,
        s"window $ws: histogram median $med vs exact lower ${exactLower(ws)}")
    }
  }

  test("streaming Misra-Gries summary confirms to the same heavy hitters as batch") {
    import graft.functions.TextFns
    val streamDir = tempDir("docs_mg_stream")
    val docs = Tables.documents(spark, dir)
    // three arrival batches split by doc_id — batch boundaries are the
    // thing the merge path must be invariant to
    Seq((0, 170), (170, 340), (340, Int.MaxValue)).zipWithIndex.foreach {
      case ((lo, hi), i) =>
        docs.filter(col("doc_id") >= lo && col("doc_id") < hi).coalesce(1)
          .write.parquet(streamDir.resolve(s"b$i").toString)
    }
    Streaming.runHeavyHitterStream(spark, s"$streamDir/*", "mg_stream_out")
    val row = spark.table("mg_stream_out").first()
    val cands = row.getSeq[String](0).toSet
    val nTotal = row.getLong(1)
    val toks = docs.select(explode(TextFns.tokens(lower(col("text")))).as("tok"))
    assert(nTotal === toks.count(), "exact token total rides with the summary")
    assert(cands.size <= 1023, "streaming state stays bounded")
    // superset guarantee: every token above the support threshold is a
    // candidate no matter how the stream was batched
    val support = math.ceil(0.002 * nTotal).toLong
    val heavy = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= support)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(heavy.nonEmpty)
    heavy.foreach { case (t, c) =>
      assert(cands.contains(t), s"true heavy hitter $t ($c) missing from stream summary")
    }
    // confirming the streamed candidates reproduces the batch two-pass
    val confirmed = toks.filter(col("tok").isin(cands.toSeq: _*))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= support)
      .orderBy(desc("cnt"), asc("tok"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val batch = graft.ext.Text.textHeavyHitters(docs)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(confirmed.toSeq === batch.toSeq)
  }

  test("streaming quarantine: union over micro-batches equals the batch decontamination") {
    val docs = Tables.documents(spark, dir)
    val inDir = tempDir("docs_qstream").toString
    Seq(0L -> 125L, 125L -> 250L, 250L -> 375L, 375L -> 10000L).foreach {
      case (lo, hi) =>
        docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
          .coalesce(1).write.mode("append").parquet(inDir)
    }
    val outDir = tempDir("quar_out").toString + "/q"
    val ckpt = tempDir("quar_ckpt").toString

    Streaming.runQuarantineStream(spark, s"$inDir/*.parquet", dir, outDir, ckpt)

    val streamed = spark.read.parquet(outDir)
      .select("doc_id", "n_shared_grams")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = graft.ext.Retrieval.qQuarantine(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch.nonEmpty)
    assert(streamed === batch,
      "stateless-per-doc guard: batching must not change the quarantine set")
    // each document quarantined at most once (it arrives in one batch)
    assert(spark.read.parquet(outDir).count() === streamed.size.toLong)
  }

  test("streaming novelty sketch: per-batch rows equal the batch prefix estimates") {
    import graft.functions.HllSketch
    val docs = Tables.documents(spark, dir)
    val slices = Seq(0L -> 125L, 125L -> 250L, 250L -> 375L, 375L -> 10000L)
    val inDir = tempDir("docs_nvstream").toString
    slices.foreach { case (lo, hi) =>
      docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
        .coalesce(1).write.mode("append").parquet(inDir)
    }
    // FileStreamSource orders arrivals by modification time (path on
    // ties — random part-file UUIDs); pin STRICTLY increasing mtimes so
    // both the original run and the fresh-checkpoint replay assign the
    // same slice to the same batch_id
    new java.io.File(inDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.lastModified())
      .zipWithIndex.foreach { case (f, i) =>
        f.setLastModified((i + 1) * 60000L)
      }
    val regsPath = tempDir("nv_regs").toString
    val outDir = tempDir("nv_out").toString + "/rows"

    Streaming.runNoveltyStream(spark, s"$inDir/*.parquet", regsPath, outDir)

    val streamed = spark.read.parquet(outDir)
      .select("batch_id", "n_shingles", "est_cum_types", "est_new_types")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(streamed.length === slices.length)
    // batch recomputation over the same arrival slices: per-slice
    // registers merged into prefixes must give the same estimates —
    // register merges are deterministic, so equality is EXACT
    val sliceRegs = slices.map { case (lo, hi) =>
      val s = Streaming.shingleSketch(
        docs.filter(col("doc_id") >= lo && col("doc_id") < hi).withColumn("g", lit(1)), "g")
        .select(col("sk"), col("n_shingles")).first()
      (s.getAs[Array[Byte]](0), s.getLong(1))
    }
    var running: Option[Array[Byte]] = None
    var prevEst = 0L
    sliceRegs.zip(streamed).zipWithIndex.foreach {
      case (((regs, n), (bid, sn, cum, nw)), i) =>
        assert(bid === i.toLong)
        assert(sn === n, s"batch $i shingle count")
        running = running.map { p => HllSketch.merge(p, regs); p }.orElse(Some(regs))
        val est = HllSketch.estimate(running.get)
        assert(cum === est, s"batch $i cumulative estimate")
        assert(nw === est - prevEst, s"batch $i novelty delta")
        prevEst = est
    }
    // ... and the final cumulative estimate equals the one-shot
    // whole-corpus sketch (arrival batching is invisible)
    val whole = Streaming.shingleSketch(docs.withColumn("g", lit(1)), "g")
      .select(col("sk")).first().getAs[Array[Byte]](0)
    assert(streamed.last._3 === HllSketch.estimate(whole))
    // REPLAY idempotency (foreachBatch is at-least-once): wipe the
    // checkpoint but keep the register files and outputs, re-run the
    // whole stream — every batch replays against surviving state and
    // must rewrite IDENTICAL rows (batch-keyed registers mean a replayed
    // batch reads its predecessor's sketch, never one containing itself)
    val ckpt = java.nio.file.Paths.get(regsPath, "_stream_checkpoint")
    org.apache.spark.network.util.JavaUtils.deleteRecursively(ckpt.toFile)
    Streaming.runNoveltyStream(spark, s"$inDir/*.parquet", regsPath, outDir)
    val replayed = spark.read.parquet(outDir)
      .select("batch_id", "n_shingles", "est_cum_types", "est_new_types")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(replayed.toSeq === streamed.toSeq,
      "a full replay over surviving register state must be a no-op")
  }

  test("streaming mix monitor: per-batch rows equal batch prefix mixes; replay is a no-op") {
    val docs = Tables.documents(spark, dir)
    val slices = Seq(0L -> 125L, 125L -> 250L, 250L -> 375L, 375L -> 10000L)
    val inDir = tempDir("docs_mixstream").toString
    slices.foreach { case (lo, hi) =>
      docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
        .coalesce(1).write.mode("append").parquet(inDir)
    }
    new java.io.File(inDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.lastModified())
      .zipWithIndex.foreach { case (f, i) => f.setLastModified((i + 1) * 60000L) }
    val statePath = tempDir("mix_state").toString
    val outDir = tempDir("mix_out").toString + "/rows"

    Streaming.runMixStream(spark, s"$inDir/*.parquet", dir, statePath, outDir)

    def readOut() = spark.read.parquet(outDir)
      .select("batch_id", "cum_chars", "mix_tvd", "worst_source", "worst_gap")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3), r.getDouble(4)))
      .sortBy(_._1)
    val streamed = readOut()
    assert(streamed.length === slices.length)
    // batch recomputation of every arrival prefix against the same
    // target — exact equality (integer counts, the same d12 quantization)
    val target = graft.ext.Curation.mixtureWeights(docs, 0.5)
      .select(col("source"), col("target_share"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    slices.indices.foreach { k =>
      val hi = slices(k)._2
      val pref = docs.filter(col("doc_id") < hi)
        .groupBy(col("source")).agg(sum(col("n_chars")).as("c"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val total = pref.values.sum
      val diffs = (target.keySet ++ pref.keySet).toSeq.map { s =>
        s -> BigDecimal(math.abs(pref.getOrElse(s, 0L).toDouble / total -
          target.getOrElse(s, 0.0)))
          .setScale(12, BigDecimal.RoundingMode.HALF_UP)
      }
      def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
      val (ws, wd) = diffs.sortBy { case (s, d) => (-d, s) }.head
      val row = streamed(k)
      assert(row._2 === total, s"batch $k chars")
      assert(row._3 === r6((diffs.map(_._2).sum / 2).toDouble), s"batch $k tvd")
      assert(row._4 === ws, s"batch $k worst source")
      assert(row._5 === r6(wd.toDouble), s"batch $k worst gap")
    }
    // at-least-once replay over surviving state rewrites identical rows
    org.apache.spark.network.util.JavaUtils.deleteRecursively(
      java.nio.file.Paths.get(statePath, "_stream_checkpoint").toFile)
    Streaming.runMixStream(spark, s"$inDir/*.parquet", dir, statePath, outDir)
    assert(readOut().toSeq === streamed.toSeq)
  }

  test("mix monitor: a NULL source is a real category, not a fabricated zero") {
    import spark.implicits._
    // 1 of every 4 docs has a NULL source; under a null-UNSAFE char
    // join the NULL category's chars would coalesce to 0 (dropping out
    // of cum_all) while its target share still contributes to the TVD
    val docs = (0L until 40L).map(i =>
      (i, if (i % 4 == 0) null else "srcA", 100L))
      .toDF("doc_id", "source", "n_chars")
    val rows = Streaming.mixMonitorDf(docs).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(rows.length === 10)
    // cum_chars must include the NULL source's arrivals
    assert(rows.last._2 === 4000L, "NULL-source chars belong in cum_all")
    // expected TVD from the same Option-keyed arithmetic the runner
    // uses: arrived mix is 1/4 NULL / 3/4 srcA in every prefix
    val target = graft.ext.Curation.mixtureWeights(docs, 0.5)
      .select(col("source"), col("target_share"))
      .collect().map(r => Option(r.getString(0)) -> r.getDouble(1)).toMap
    val diffs = Seq(Option.empty[String] -> 0.25, Some("srcA") -> 0.75).map {
      case (s, share) => BigDecimal(math.abs(share - target(s)))
        .setScale(12, BigDecimal.RoundingMode.HALF_UP)
    }
    val expected = math.floor((diffs.sum / 2).toDouble * 1e6 + 0.5) / 1e6
    rows.foreach { case (b, _, tvd) =>
      assert(tvd === expected, s"bucket $b TVD must count the NULL category")
    }
  }

  test("streaming corpus build: per-batch funnels equal the batch monitor's decile rows; replay is a no-op") {
    val docs = Tables.documents(spark, dir)
    // arrivals aligned with the monitor's value-based decile buckets:
    // after batch k the stream's cumulative funnel must equal the batch
    // monitor's bucket-k row set exactly
    val bucketed = graft.ext.Text.docBuckets(docs).localCheckpoint()
    val inDir = tempDir("docs_cbstream").toString
    (0 until 10).foreach { k =>
      bucketed.filter(col("bucket") === k).drop("bucket")
        .coalesce(1).write.mode("append").parquet(inDir)
    }
    // one file per bucket in arrival order (FileStreamSource picks the
    // oldest-first under maxFilesPerTrigger=1)
    val files = new java.io.File(inDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.lastModified())
    files.zipWithIndex.foreach { case (f, i) => f.setLastModified((i + 1) * 60000L) }
    val idx = tempDir("cb_stream_idx").toString
    graft.ext.Dedup.indexInit(docs.limit(0), idx)
    val statePath = tempDir("cb_state").toString
    val outDir = tempDir("cb_out").toString + "/rows"

    Streaming.runCorpusBuildStream(spark, s"$inDir/*.parquet", dir, idx, statePath, outDir)

    def readOut() = spark.read.parquet(outDir)
      .select("batch_id", "stage", "n_docs", "n_chars")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    val streamed = readOut()
    assert(streamed.map(_._1).distinct.length === 10, "ten arrivals, ten funnels")
    val monitor = Streaming.qStreamCorpusBuild(spark, dir).collect()
      .map(r => (r.getInt(0).toLong, r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    assert(streamed.toSeq === monitor.toSeq,
      "stream funnel must equal the batch monitor at every checkpoint")
    // at-least-once replay over surviving state rewrites identical rows
    org.apache.spark.network.util.JavaUtils.deleteRecursively(
      java.nio.file.Paths.get(statePath, "_stream_checkpoint").toFile)
    Streaming.runCorpusBuildStream(spark, s"$inDir/*.parquet", dir, idx, statePath, outDir)
    assert(readOut().toSeq === streamed.toSeq)
  }

  test("corpus-build monitor: final checkpoint anchors the batch funnel; ingest nd policy only looser") {
    // bucket-9 raw/exact rows equal q_corpus_build's (same population,
    // same first-arrival rule); the arrival-stable near-dup policy can
    // only keep MORE docs than the batch CC rule (a doc with an earlier
    // direct partner is never its component's min)
    val monitor = Streaming.qStreamCorpusBuild(spark, dir).collect()
      .filter(_.getInt(0) == 9)
      .map(r => r.getString(1) -> (r.getLong(2), r.getLong(3))).toMap
    val funnel = graft.ext.Curation.qCorpusBuild(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(monitor("0_raw") === funnel("0_raw"))
    assert(monitor("1_exact_dedup") === funnel("1_exact_dedup"))
    assert(monitor("2_near_dedup")._1 >= funnel("2_near_dedup")._1)
    assert(monitor("4_quality")._1 >= funnel("4_quality")._1)
  }

  test("streaming embedding drift: per-batch rows equal the batch monitor's decile rows; replay is a no-op") {
    val emb = Tables.embeddings(spark, dir)
    // one arrival file per value-based decile bucket (the monitor's own
    // rule on vec_id), so checkpoint k must equal bucket-k row exactly
    val mm = emb.agg(min(col("vec_id")).as("lo"), max(col("vec_id")).as("hi"))
    val bucketed = emb.crossJoin(broadcast(mm))
      .withColumn("bucket", expr("(vec_id - lo) * 10 div (hi - lo + 1)").cast("int"))
      .localCheckpoint()
    val inDir = tempDir("emb_driftstream").toString
    (0 until 10).foreach { k =>
      bucketed.filter(col("bucket") === k).select("vec_id", "embedding", "label")
        .coalesce(1).write.mode("append").parquet(inDir)
    }
    val files = new java.io.File(inDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.lastModified())
    files.zipWithIndex.foreach { case (f, i) => f.setLastModified((i + 1) * 60000L) }
    val statePath = tempDir("drift_state").toString
    val outDir = tempDir("drift_out").toString + "/rows"

    Streaming.runIvfDriftStream(spark, s"$inDir/*.parquet", dir, statePath, outDir)

    def readOut() = spark.read.parquet(outDir)
      .select("batch_id", "cum_n", "mean_dist", "occ_tvd", "worst_list", "worst_gap")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getInt(4), r.getDouble(5)))
      .sortBy(_._1)
    val streamed = readOut()
    assert(streamed.length === 10, "ten arrivals, ten checkpoints")
    val monitor = Streaming.qStreamIvfDrift(spark, dir).collect()
      .map(r => (r.getInt(0).toLong, r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getInt(4), r.getDouble(5)))
      .sortBy(_._1)
    assert(streamed.toSeq === monitor.toSeq,
      "stream drift report must equal the batch monitor at every checkpoint")
    // bucket 9 = everything arrived vs its own index: the TVD baseline
    assert(monitor.last._4 === 0.0, "final occupancy TVD must anchor at 0")
    assert(monitor.map(_._2).toSeq === monitor.map(_._2).sorted.toSeq, "cum_n monotone")
    // at-least-once replay over surviving state rewrites identical rows
    org.apache.spark.network.util.JavaUtils.deleteRecursively(
      java.nio.file.Paths.get(statePath, "_stream_checkpoint").toFile)
    Streaming.runIvfDriftStream(spark, s"$inDir/*.parquet", dir, statePath, outDir)
    assert(readOut().toSeq === streamed.toSeq)
  }

  test("streaming near-dup ingestion: union over micro-batches equals batch dedup_minhash") {
    import graft.ext.Dedup
    val docs = Tables.documents(spark, dir)
    // four arrival files (one micro-batch each under maxFilesPerTrigger=1)
    val inDir = tempDir("docs_stream").toString
    Seq(0L -> 125L, 125L -> 250L, 250L -> 375L, 375L -> 10000L).foreach {
      case (lo, hi) =>
        docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
          .coalesce(1).write.mode("append").parquet(inDir)
    }
    // empty persistent index: the stream builds it up batch by batch
    val idx = tempDir("stream_minhash_idx").toString
    Dedup.indexInit(docs.limit(0), idx)
    val outDir = tempDir("neardup_out").toString + "/pairs"

    Streaming.runNearDupStream(spark, s"$inDir/*.parquet", idx, outDir)

    val streamed = spark.read.parquet(outDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = Dedup.dedupMinhash(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(batch.nonEmpty)
    assert(streamed === batch,
      "union of per-batch probe results must equal the full-corpus pair set")
    // no pair is emitted twice across batches (each pair has exactly one
    // later endpoint)
    val streamedRows = spark.read.parquet(outDir).count()
    assert(streamedRows === streamed.size.toLong)
    // the accumulated index (live ∪ delta — appends land in the delta
    // directory under the StoreIO discipline) equals a from-scratch
    // bulk build, with no replay inflation
    assert(graft.ops.StoreIO.read(spark, s"$idx/bands", Some(Dedup.BandsDdl))
      .count() === Dedup.bandTable(docs).count())
  }

  test("ingest-then-reconcile equals the batch rebuild at every decile") {
    import graft.ext.{Cluster, Dedup}
    val docs = Tables.documents(spark, dir).localCheckpoint()
    val n = docs.count()
    // ingest replay: decile batches through the incremental index, the
    // pair ARTIFACT maintained by appending each batch's probe delta —
    // exactly the state a production ingest pipeline carries
    val idx = tempDir("reconcile_idx").toString
    val art = tempDir("reconcile_art")
      .resolve("pairs").toString
    Dedup.indexInit(docs.limit(0), idx)
    Dedup.pairsArtifactInit(docs.limit(0), art)
    var checkedGap = false
    var prevHi = 0L
    (1 to 10).foreach { i =>
      val hi = if (i == 10) Long.MaxValue else i * n / 10
      Dedup.pairsArtifactAppend(
        Dedup.indexIncremental(
          docs.filter(col("doc_id") >= prevHi && col("doc_id") < hi), idx),
        art)
      prevHi = hi
      val arrived = docs.filter(col("doc_id") < hi)
      val arrivedIds = arrived.select("doc_id").collect().map(_.getLong(0)).toSet
      val pairs = Dedup.pairsArtifactRead(spark, art)
      // ingest policy kept everything but later endpoints; the
      // reconciliation retracts the gap documents on top
      val ingestDropped = pairs.select(col("doc_b")).distinct()
        .collect().map(_.getLong(0)).toSet
      val retract = Cluster.reconcileDf(arrived, pairs)
        .collect().map(_.getLong(0)).toSet
      // retraction list is one-sided: never re-drops an ingest drop
      assert(retract.intersect(ingestDropped).isEmpty, s"decile $i")
      // batch-rebuild survivors on the arrived prefix
      val ccDropped = Cluster.connectedComponents(
          Dedup.minhashPairsDf(arrived)
            .select(col("doc_a").as("u"), col("doc_b").as("v")))
        .filter(col("id") =!= col("label"))
        .collect().map(_.getLong(0)).toSet
      assert((arrivedIds -- ingestDropped -- retract) === (arrivedIds -- ccDropped),
        s"ingest-then-reconcile must equal the batch rebuild at decile $i")
      if (retract.nonEmpty) checkedGap = true
    }
    // the shared corpus's planted near-dups form complete cliques, so
    // its gap — hence every retraction list above — is legitimately
    // empty; the nonempty case is pinned by the planted chain below
    assert(!checkedGap)
  }

  test("delete apply: post-stream state equals a from-scratch rebuild on the surviving corpus") {
    import graft.ext.{Cluster, Dedup}
    import spark.implicits._
    val docs = Tables.documents(spark, dir).localCheckpoint()
    // live state as the ingest pipeline maintains it
    val root = tempDir("delapply")
    val idx = root.resolve("index").toString
    val pairs = root.resolve("pairs").toString
    val hashes = root.resolve("hashes").toString
    val manifest = root.resolve("manifest").toString
    Dedup.indexInit(docs, idx)
    Dedup.pairsArtifactInit(docs, pairs)
    docs.filter(col("doc_id") % 100 =!= 0)
      .select(md5(col("text").cast("binary")).as("h"), col("doc_id"),
        lit(0L).as("batch"))
      .publishTo(hashes, "batch")
    graft.ext.Packing.packSequences(docs).publishTo(manifest)
    val oldLabels = Cluster.connectedComponents(
        Dedup.pairsArtifactRead(spark, pairs)
          .select(col("doc_a").as("u"), col("doc_b").as("v")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // takedown feed: the src7 delete set split across two arrivals,
    // plus one cluster CANONICAL (min member of a cluster with ≥2
    // surviving members) so the feed provably forces a re-election at
    // this SF (src7 alone happens not to delete any canonical here)
    val srcIds = docs.filter(col("source") === "src7").select("doc_id")
      .collect().map(_.getLong(0)).sorted
    val canonical = oldLabels.groupBy(_._2).collect {
      case (l, m) if !srcIds.contains(l) &&
        m.keys.count(d => d != l && !srcIds.contains(d)) >= 1 => l
    }.min
    val ids = (srcIds :+ canonical).sorted
    val (h1, h2) = ids.splitAt(ids.length / 2)
    val inDir = tempDir("del_feed").toString
    h1.toSeq.toDF("doc_id").coalesce(1).write.mode("append").parquet(inDir)
    h2.toSeq.toDF("doc_id").coalesce(1).write.mode("append").parquet(inDir)
    val delIds = ids.toSeq.toDF("doc_id")
    val outDir = tempDir("del_out").toString + "/delta"
    val ckpt = tempDir("del_ckpt").toString
    Streaming.runDeleteApply(spark, s"$inDir/*.parquet", idx, pairs,
      Some(hashes), outDir, ckpt, Some(manifest))
    // from-scratch rebuild on the survivors
    val survivors = docs.join(delIds, Seq("doc_id"), "left_anti").localCheckpoint()
    val r2 = tempDir("delapply_rebuild")
    val idx2 = r2.resolve("index").toString
    val pairs2 = r2.resolve("pairs").toString
    Dedup.indexInit(survivors, idx2)
    Dedup.pairsArtifactInit(survivors, pairs2)
    def rows(p: String): Seq[String] = graft.ops.Publish.readLive(spark, p)
      .collect().map(_.toString).sorted.toSeq
    assert(rows(s"$idx/bands") === rows(s"$idx2/bands"))
    assert(rows(s"$idx/shingles") === rows(s"$idx2/shingles"))
    assert(rows(pairs) === rows(pairs2))
    assert(rows(pairs).nonEmpty, "surviving pairs must be nonempty")
    val hashTruth = survivors.filter(col("doc_id") % 100 =!= 0)
      .select(md5(col("text").cast("binary")).as("h"), col("doc_id"))
      .collect().map(_.toString).sorted.toSeq
    assert(graft.ops.Publish.readLive(spark, hashes).select("h", "doc_id")
      .collect().map(_.toString).sorted.toSeq === hashTruth)
    // pack manifest: offsets re-derived from surviving rows equal a
    // from-scratch pack of the surviving corpus
    assert(rows(manifest) ===
      graft.ext.Packing.packSequences(survivors)
        .collect().map(_.toString).sorted.toSeq)
    // composing the per-batch re-election deltas onto the original
    // labels lands exactly on the rebuild's cluster labels
    val newLabels = Cluster.connectedComponents(
        Dedup.pairsArtifactRead(spark, pairs2)
          .select(col("doc_a").as("u"), col("doc_b").as("v")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val deltas = spark.read.parquet(outDir)
      .select(col("batch").cast("long"), col("doc_id"), col("new_cluster_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(deltas.nonEmpty, "the takedown must force at least one re-election")
    var composed = oldLabels.filter { case (d, _) => !ids.contains(d) }
    deltas.foreach { case (_, d, nl) => composed = composed + (d -> nl) }
    composed.foreach { case (d, l) =>
      assert(l === newLabels.getOrElse(d, d),
        s"composed label for doc $d must match the rebuild")
    }
  }

  test("tombstone stream: served views equal the rebuild on survivors; compaction lands on the rewrite state; replay is a no-op") {
    import graft.ext.{Dedup, Packing}
    import graft.ops.StoreIO
    import spark.implicits._
    val docs = Tables.documents(spark, dir).localCheckpoint()
    val root = tempDir("tomb_stream")
    val idx = root.resolve("index").toString
    val pairs = root.resolve("pairs").toString
    val hashes = root.resolve("hashes").toString
    val manifest = root.resolve("manifest").toString
    val tombs = root.resolve("tombs").toString
    Dedup.indexInit(docs, idx)
    Dedup.pairsArtifactInit(docs, pairs)
    docs.select(md5(col("text").cast("binary")).as("h"), col("doc_id"),
        lit(0L).as("batch"))
      .publishTo(hashes, "batch")
    Packing.packSequences(docs).publishTo(manifest)
    // the takedown feed: src7 split across two arrivals
    val ids = docs.filter(col("source") === "src7").select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(ids.nonEmpty)
    val (h1, h2) = ids.splitAt(ids.length / 2)
    val inDir = tempDir("tomb_feed").toString
    h1.toSeq.toDF("doc_id").coalesce(1).write.mode("append").parquet(inDir)
    h2.toSeq.toDF("doc_id").coalesce(1).write.mode("append").parquet(inDir)
    val ckpt = tempDir("tomb_ckpt").toString
    Streaming.runTombstoneStream(spark, s"$inDir/*.parquet", tombs, ckpt)
    // every fed id is a live tombstone, exactly once
    val tset = Dedup.tombstonesRead(spark, tombs).collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(tset === ids.toSeq)
    // served views equal a from-scratch rebuild on the survivors
    val survivors = docs.filter(!col("doc_id").isin(ids.toSeq: _*))
      .localCheckpoint()
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val tombsDf = Dedup.tombstonesRead(spark, tombs).localCheckpoint()
    assert(rows(Dedup.pairsServed(Dedup.pairsArtifactRead(spark, pairs), tombsDf))
      === rows(Dedup.minhashPairsDf(survivors)))
    assert(rows(Dedup.docStoreServed(
        StoreIO.read(spark, hashes, Some(Dedup.HashStoreDdl)), tombsDf)
        .select(col("h"), col("doc_id")))
      === rows(survivors.select(md5(col("text").cast("binary")).as("h"),
        col("doc_id"))))
    // a REPLAYED feed (fresh checkpoint, same files) re-appends under
    // the same batch tokens: tombstone state unchanged
    val ckpt2 = tempDir("tomb_ckpt2").toString
    Streaming.runTombstoneStream(spark, s"$inDir/*.parquet", tombs, ckpt2)
    assert(Dedup.tombstonesRead(spark, tombs).collect()
      .map(_.getLong(0)).sorted.toSeq === ids.toSeq)
    // compaction folds the tombstones into the physical stores: state
    // equals the direct deleteApply twin, tombstones retired
    Dedup.tombstoneCompact(spark, tombs, idx, pairs, Some(hashes),
      Some(manifest))
    assert(Dedup.tombstonesRead(spark, tombs).count() === 0L)
    assert(rows(Dedup.pairsArtifactRead(spark, pairs))
      === rows(Dedup.minhashPairsDf(survivors)))
    assert(rows(graft.ops.Publish.readLive(spark, manifest))
      === rows(Packing.packSequences(survivors)))
  }

  test("an ingest append racing a maintenance rewrite loses nothing (post-state ≡ serial order)") {
    import graft.ext.{Dedup, Packing}
    import graft.ops.StoreIO
    import spark.implicits._
    val docs = Tables.documents(spark, dir).localCheckpoint()
    def stage(): (String, String, String, String) = {
      val root = tempDir("race")
      val idx = root.resolve("index").toString
      val pairs = root.resolve("pairs").toString
      val hashes = root.resolve("hashes").toString
      val manifest = root.resolve("manifest").toString
      Dedup.indexInit(docs, idx)
      Dedup.pairsArtifactInit(docs, pairs)
      docs.select(md5(col("text").cast("binary")).as("h"), col("doc_id"),
          lit(0L).as("batch"))
        .publishTo(hashes, "batch")
      Packing.packSequences(docs).publishTo(manifest)
      (idx, pairs, hashes, manifest)
    }
    // the racing ingest: a pair between two surviving docs and a hash
    // row for a brand-new arrival, delivered while the rewrite is
    // between its snapshot and its swaps — exactly where the old
    // mode("append")-into-live discipline lost or orphaned them
    val racePair = Seq((1000000L, 1000001L, 0.93)).toDF("doc_a", "doc_b", "jaccard")
    val raceHash = Seq(("f" * 32, 1000000L, 7L)).toDF("h", "doc_id", "batch")
    def raceAppends(pairs: String, hashes: String): Unit = {
      Dedup.pairsArtifactAppend(racePair, pairs, token = "race")
      StoreIO.append(raceHash, hashes, token = "race")
    }
    val del = docs.filter(col("source") === "src7").select("doc_id")

    // interleaved run: appends land mid-deleteApply via the test seam
    val (idxA, pairsA, hashesA, manA) = stage()
    Dedup.deleteApplyImpl(del, idxA, pairsA, Some(hashesA), Some(manA),
      interleave = () => raceAppends(pairsA, hashesA))
    // serial run: the same deleteApply first, the same appends after
    val (idxB, pairsB, hashesB, manB) = stage()
    Dedup.deleteApply(del, idxB, pairsB, Some(hashesB), Some(manB))
    raceAppends(pairsB, hashesB)

    def pairRows(p: String): Seq[String] =
      Dedup.pairsArtifactRead(spark, p).collect().map(_.toString).sorted.toSeq
    def hashRows(p: String): Seq[String] =
      StoreIO.read(spark, p, Some(Dedup.HashStoreDdl))
        .collect().map(_.toString).sorted.toSeq
    // nothing lost: the raced appends are present...
    assert(pairRows(pairsA).exists(_.contains("1000000")),
      "the racing pair append was lost")
    assert(hashRows(hashesA).exists(_.contains("1000000")),
      "the racing hash append was lost")
    // ...and the interleaved post-state equals the serial order exactly
    assert(pairRows(pairsA) === pairRows(pairsB))
    assert(hashRows(hashesA) === hashRows(hashesB))

    // same drill through storeRepair (the other maintenance rewrite)
    val (_, pairsC, hashesC, manC) = stage()
    Dedup.storeRepairImpl(spark, hashesC, manC, pairsC,
      interleave = () => raceAppends(pairsC, hashesC))
    val (_, pairsD, hashesD, manD) = stage()
    Dedup.storeRepair(spark, hashesD, manD, pairsD)
    raceAppends(pairsD, hashesD)
    assert(pairRows(pairsC) === pairRows(pairsD))
    assert(hashRows(hashesC) === hashRows(hashesD))
    assert(pairRows(pairsC).exists(_.contains("1000000")))
  }

  test("reconcile retracts a planted transitive chain the ingest policy kept") {
    import graft.ext.{Cluster, Dedup}
    import spark.implicits._
    // doc3 bridges docs 1 and 2: j(1,3), j(2,3) ≥ 0.8 but j(1,2) < 0.8
    // (40 unique words; 1 and 2 perturb opposite 3-word ends). With
    // doc3 arriving LAST, ingest drops only 3 (the later endpoint of
    // both pairs) while a batch rebuild also drops 2 (non-min member of
    // the {1,2,3} component) — doc 2 IS the gap, and the retraction
    // must be exactly it.
    val base = (1 to 40).map(i => s"w$i")
    val docs = Seq(
      (1L, (base.take(37) ++ Seq("x1", "x2", "x3")).mkString(" ")),
      (2L, (Seq("y1", "y2", "y3") ++ base.drop(3)).mkString(" ")),
      (3L, base.mkString(" ")))
      .toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")))
    val pairs = Dedup.minhashPairsDf(docs)
    val got = pairs.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 3L), (2L, 3L)), s"planted topology drifted: $got")
    val retract = Cluster.reconcileDf(docs, pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(retract === Set((2L, 1L)),
      "the gap document must be retracted, labeled with its canonical")
    // applying it closes the gap: ingest-kept minus retraction equals
    // the batch survivors {1}
    val ingestKept = Set(1L, 2L)
    assert((ingestKept -- retract.map(_._1)) === Set(1L))
  }
}

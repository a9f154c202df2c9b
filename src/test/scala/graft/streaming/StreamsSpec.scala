package graft.streaming

import graft.{SparkSuite, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryException, TimeMode}

/** The stream driver's promises that no runner's output shows: the
  * state-store provider comes back after a stateful stream, and the
  * batch-keyed ingest monitors keep two state files.
  */
class StreamsSpec extends SparkSuite {
  val dir = "/root/testdata/sf0.001"
  private val providerKey = "spark.sql.streaming.stateStore.providerClass"
  private val hdfsProvider =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"

  private val made = scala.collection.mutable.Buffer.empty[java.nio.file.Path]
  private def tmp(prefix: String): String = {
    val d = tempDir(prefix)
    made += d
    d.toString
  }
  override def withFixture(test: NoArgTest) =
    try super.withFixture(test)
    finally {
      made.foreach(d => org.apache.spark.network.util.JavaUtils.deleteRecursively(d.toFile))
      made.clear()
    }

  /** The events table as two stream input files. */
  private def eventFeed(): String = {
    val raw = spark.read.schema(Streaming.eventsRawSchema).parquet(s"$dir/events.parquet")
    val feed = tmp("streams_events")
    raw.filter(col("event_id") % 2 === 0).coalesce(1).write.parquet(s"$feed/b1")
    raw.filter(col("event_id") % 2 === 1).coalesce(1).write.parquet(s"$feed/b2")
    s"$feed/*"
  }

  private def pinArrivalOrder(feed: String): Unit =
    new java.io.File(feed).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.lastModified())
      .zipWithIndex.foreach { case (f, i) => f.setLastModified((i + 1) * 60000L) }

  /** Runs `body` with the provider key set to `value` (None: unset) and
    * returns the explicitly set value afterwards.
    */
  private def providerAfter(value: Option[String])(body: => Unit): Option[String] = {
    value.fold(spark.conf.unset(providerKey))(spark.conf.set(providerKey, _))
    try {
      body
      spark.conf.getAll.get(providerKey)
    } finally spark.conf.unset(providerKey)
  }

  test("a stateful runner restores the state-store provider, set or unset, also when the stream fails") {
    val feed = eventFeed()
    assert(providerAfter(None)(
      Streaming.runBurstStream(spark, feed, "provider_unset_out")) === None)
    assert(providerAfter(Some(hdfsProvider))(
      Streaming.runFirstTouchStream(spark, feed, "provider_set_out")) === Some(hdfsProvider))
    // the driver pins RocksDB for the transformWithState plan only, and a
    // throwing batch body still gets the previous provider back
    val seen = scala.collection.mutable.Buffer.empty[String]
    val typed = Streaming.eventStream(spark, feed, oneFilePerTrigger = true)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as(org.apache.spark.sql.Encoders.product[Streaming.Event])
    val stateful = typed.groupByKey(_.user_id)(org.apache.spark.sql.Encoders.scalaLong)
      .transformWithState(new Streaming.BurstProcessor, TimeMode.None(), OutputMode.Append())(
        org.apache.spark.sql.Encoders.product[Streaming.Burst])
      .toDF()
    Seq(None, Some(hdfsProvider)).foreach { prior =>
      assert(providerAfter(prior) {
        val e = intercept[StreamingQueryException](Streams.drain(stateful,
          Streams.ForeachBatch(None, { (batch, _) =>
            seen += batch.sparkSession.conf.get(providerKey)
            throw new IllegalStateException("batch body failed")
          })))
        assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .exists(_.isInstanceOf[IllegalStateException]), e)
      } === prior)
    }
    assert(seen.nonEmpty && seen.forall(_.endsWith("RocksDBStateStoreProvider")), seen)
    // a stateless plan runs under whatever provider the session has
    seen.clear()
    assert(providerAfter(Some(hdfsProvider))(Streams.drain(
      Streaming.eventStream(spark, feed, oneFilePerTrigger = true),
      Streams.ForeachBatch(None, { (batch, _) =>
        seen += batch.sparkSession.conf.get(providerKey)
      }))) === Some(hdfsProvider))
    assert(seen.nonEmpty && seen.forall(_ == hdfsProvider), seen)
  }

  test("after a 4-file replay the novelty, mix and drift state dirs hold exactly the two newest state files") {
    def docsFeed(): String = {
      val docs = Tables.documents(spark, dir)
      val feed = tmp("streams_docs")
      Seq(0L -> 125L, 125L -> 250L, 250L -> 375L, 375L -> 10000L).foreach { case (lo, hi) =>
        docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
          .coalesce(1).write.mode("append").parquet(feed)
      }
      pinArrivalOrder(feed)
      s"$feed/*.parquet"
    }
    def embFeed(): String = {
      val emb = Tables.embeddings(spark, dir)
      val feed = tmp("streams_emb")
      (0 until 4).foreach { k =>
        emb.filter(pmod(col("vec_id"), lit(4)) === k).coalesce(1)
          .write.mode("append").parquet(feed)
      }
      pinArrivalOrder(feed)
      s"$feed/*.parquet"
    }
    def stateFiles(state: String): Seq[String] =
      new java.io.File(state).list().toSeq.filterNot(_.startsWith("_")).sorted

    val regs = tmp("streams_regs")
    Streaming.runNoveltyStream(spark, docsFeed(), regs, s"${tmp("streams_nv")}/rows")
    assert(stateFiles(regs) === Seq("regs_2.bin", "regs_3.bin"))

    val mix = tmp("streams_mix")
    Streaming.runMixStream(spark, docsFeed(), dir, mix, s"${tmp("streams_mix_out")}/rows")
    assert(stateFiles(mix) === Seq("mix2_2.tsv", "mix2_3.tsv"))

    val drift = tmp("streams_drift")
    Streaming.runIvfDriftStream(spark, embFeed(), dir, drift, s"${tmp("streams_drift_out")}/rows")
    assert(stateFiles(drift) === Seq("drift_2.tsv", "drift_3.tsv"))
  }
}

package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Incremental maintenance of a MERGEABLE aggregate table (materialized
  * view): per-(day, event_type) event counts and exact money sums,
  * partitioned by day, kept current under daily batch arrival.
  *
  * The 100 TB cadence (the reference's daily serialized batch,
  * spark_submit_airflow.py:163-177) makes "recompute the aggregate from
  * all history" the anti-pattern: maintenance cost must be proportional
  * to the BATCH, never the accumulated corpus. Both maintained measures
  * are algebraic (count and a DECIMAL sum merge associatively and
  * exactly), so:
  *
  *   1. the arriving batch partial-aggregates alone — one shuffle over
  *      batch-sized data;
  *   2. the touched partition set comes from the partials' day keys
  *      (tiny, collected like a partition spec) and prunes the read of
  *      current MV rows at file-listing time;
  *   3. touched-day current rows union the partials and re-aggregate —
  *      merge of partial aggregates, exact by algebra;
  *   4. the merged rows publish via stage-then-dynamic-overwrite (the
  *      [[Upsert]] write-audit-publish discipline: Spark cannot lazily
  *      overwrite a path it reads, and a failed merge must not corrupt
  *      the view). Untouched days are never listed, read, or written.
  *
  * sum_value is pinned to DECIMAL(28,2) (a day's cent-sum needs < 1e26
  * headroom) so the stored schema is identical after init and after any
  * number of merges.
  */
object IncrAgg {

  private val SumType = DecimalType(28, 2)

  /** Partial aggregate of one batch — the mergeable shape. */
  def partial(events: DataFrame): DataFrame =
    events
      .withColumn("day", to_date(col("ts")))
      .groupBy(col("day"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast(SumType).as("sum_value"))

  /** Initial build: full partial-aggregate of the seed history. */
  def init(events: DataFrame, mvPath: String): Unit =
    partial(events).write.mode(SaveMode.Overwrite)
      .partitionBy("day").parquet(mvPath)

  /** Merge one arriving batch into the view, rewriting only the day
    * partitions the batch touches.
    */
  def merge(spark: SparkSession, mvPath: String, batch: DataFrame): Unit = {
    val p = partial(batch).localCheckpoint()
    val touched = p.select(col("day").cast("string")).distinct()
      .collect().map(_.getString(0))
    val current = spark.read.parquet(mvPath)
      .filter(col("day").cast("string").isin(touched.toSeq: _*))
    val merged = mergeAgg(current.unionByName(p.select(current.columns.map(col): _*)))

    val staging = mvPath.stripSuffix("/") + "__staging"
    merged.write.mode(SaveMode.Overwrite).parquet(staging)
    spark.read.parquet(staging)
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("day")
      .parquet(mvPath)
    val sp = new org.apache.hadoop.fs.Path(staging)
    sp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(sp, true)
  }

  private def mergeAgg(rows: DataFrame): DataFrame =
    rows.groupBy(col("day"), col("event_type"))
      .agg(
        sum(col("n_events")).as("n_events"),
        sum(col("sum_value")).cast(SumType).as("sum_value"))

  /** Read-only view of "the MV after merging `batch`" — the same rows
    * [[merge]] would leave on disk, computed without publishing, so the
    * driver entry is idempotent and its benchmark time measures the
    * maintenance QUERY (prune + merge), not parquet ingest.
    */
  def mergedView(spark: SparkSession, mvPath: String, batch: DataFrame): DataFrame = {
    val p = partial(batch)
    val mv = spark.read.parquet(mvPath)
    val touched = p.select(col("day")).distinct()
    // broadcast semi/anti on the tiny touched-day set; the semi side is
    // additionally partition-pruned when the day filter is pushable
    val merged = mergeAgg(
      mv.join(broadcast(touched), Seq("day"), "left_semi")
        .unionByName(p.select(mv.columns.map(col): _*)))
    mv.join(broadcast(touched), Seq("day"), "left_anti")
      .unionByName(merged)
  }

  /** Streaming face of the maintenance loop: a checkpointed file stream
    * watches the event drop directory and every micro-batch (one file
    * per trigger) merges into the view through the SAME batch merge —
    * arrival-to-current latency is one merge of batch-sized data.
    *
    * The merge is ADDITIVE (counts/sums re-add), so a replayed
    * micro-batch would double-count; foreachBatch CAN replay a batch
    * whose processing completed but whose checkpoint commit did not.
    * The `_ledger` file under the view records the highest applied
    * batch id (written by atomic rename AFTER publish): a redelivered
    * id skips, making replay exactly-once up to the crash window
    * between partition publish and ledger rename — the same multi-file
    * commit caveat the publish itself already has on a filesystem
    * without a transaction log (closing it needs a manifest/Delta-style
    * log, which the plain-parquet contract here deliberately avoids).
    * The ledger is tied to ONE checkpoint lineage: a fresh
    * checkpointLocation restarts batch ids at 0, so it must pair with
    * a fresh view directory (or a cleared ledger).
    */
  def maintainStream(spark: SparkSession, inputGlob: String, mvPath: String,
      checkpoint: String): Unit = {
    import org.apache.hadoop.fs.Path
    import graft.streaming.{Streaming, Streams}
    val fs = new Path(mvPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ledger = new Path(mvPath, "_ledger")
    def lastApplied: Long =
      if (!fs.exists(ledger)) -1L
      else {
        val in = fs.open(ledger)
        try scala.io.Source.fromInputStream(in).mkString.trim.toLong
        finally in.close()
      }
    def record(id: Long): Unit = {
      val tmp = new Path(mvPath, s"_ledger.tmp$id")
      val out = fs.create(tmp, true)
      try out.write(id.toString.getBytes("UTF-8")) finally out.close()
      // FileContext rename supports OVERWRITE (atomic replace);
      // FileSystem.rename would silently refuse an existing destination
      org.apache.hadoop.fs.FileContext.getFileContext(
        new Path(mvPath).toUri, spark.sparkContext.hadoopConfiguration)
        .rename(tmp, ledger, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
    // the view "exists" once it holds day partitions — either from a
    // prior micro-batch or a batch-mode init that seeded the history
    def viewExists: Boolean = fs.exists(new Path(mvPath)) &&
      fs.listStatus(new Path(mvPath)).exists(_.getPath.getName.startsWith("day="))
    Streams.drain(
      Streaming.eventStream(spark, inputGlob, oneFilePerTrigger = true),
      Streams.ForeachBatch(Some(checkpoint), { (batch, id) =>
        if (id > lastApplied) {
          if (viewExists) merge(spark, mvPath, batch)
          else init(batch, mvPath)
          record(id)
        }
      }))
  }

  // --- driver-contract entry ------------------------------------------------

  /** Seed-history MV cache, built once per (JVM, corpus dir): events on
    * the first two-thirds of distinct days are "history already
    * maintained by earlier runs" — ingest cost, amortized like
    * Dedup.ensureIncrementalIndex. The remaining days arrive as today's
    * batch in [[qIncrAgg]].
    */
  private def ensureMv(spark: SparkSession, dir: String): (String, String) =
    Scratch.fixture("incr_agg_mv", dir) { fixtureDir =>
      val ev = graft.Tables.events(spark, dir).withColumn("d", to_date(col("ts")))
      val days = ev.select(col("d").cast("string")).distinct()
        .collect().map(_.getString(0)).sorted
      val splitDay = days(days.length * 2 / 3)
      val mv = fixtureDir.toString
      init(ev.filter(col("d").cast("string") < splitDay), mv)
      (mv, splitDay)
    }

  /** Driver entry: the maintained view after today's batch merges in —
    * equal, by the merge algebra, to the full-history aggregate the
    * oracle computes, while only ever aggregating batch-sized input
    * plus touched-day partials.
    */
  def qIncrAgg(spark: SparkSession, dir: String): DataFrame = {
    val (mv, splitDay) = ensureMv(spark, dir)
    val batch = graft.Tables.events(spark, dir)
      .filter(to_date(col("ts")).cast("string") >= splitDay)
    mergedView(spark, mv, batch)
      .select(col("day"), col("event_type"), col("n_events"),
        col("sum_value").cast("double").as("sum_value"))
      .orderBy("day", "event_type")
  }

  // --- mergeable-sketch view --------------------------------------------

  /** Sketch-typed partial: per (day, event_type), an HLL register array
    * ([[graft.functions.HllRegAgg]] — the deterministic cross-engine
    * sketch) of the distinct users plus the exact event count. COUNT
    * DISTINCT is the aggregate that normally CANNOT live in an
    * incrementally maintained view (distinct is not additive across
    * batches); the mergeable sketch is what restores the MV algebra at
    * 100 TB — daily maintenance unions register arrays instead of
    * re-scanning history.
    */
  def sketchPartial(events: DataFrame): DataFrame =
    events
      .withColumn("day", to_date(col("ts")))
      .groupBy(col("day"), col("event_type"))
      .agg(
        graft.functions.Hll.regAgg(col("user_id")).as("users_sk"),
        count(lit(1)).as("n_events"))

  def sketchInit(events: DataFrame, mvPath: String): Unit =
    sketchPartial(events).write.mode(SaveMode.Overwrite)
      .partitionBy("day").parquet(mvPath)

  private def sketchMergeAgg(rows: DataFrame): DataFrame =
    rows.groupBy(col("day"), col("event_type"))
      .agg(
        graft.functions.Hll.mergeAgg(col("users_sk")).as("users_sk"),
        sum(col("n_events")).as("n_events"))

  /** The sketch view after merging `batch`, unpublished (see
    * [[mergedView]] for the pattern rationale).
    */
  def sketchMergedView(spark: SparkSession, mvPath: String, batch: DataFrame): DataFrame = {
    val p = sketchPartial(batch)
    val mv = spark.read.parquet(mvPath)
    val touched = p.select(col("day")).distinct()
    val merged = sketchMergeAgg(
      mv.join(broadcast(touched), Seq("day"), "left_semi")
        .unionByName(p.select(mv.columns.map(col): _*)))
    mv.join(broadcast(touched), Seq("day"), "left_anti")
      .unionByName(merged)
  }

  private def ensureSketchMv(spark: SparkSession, dir: String): (String, String) =
    Scratch.fixture("hll_mv", dir) { fixtureDir =>
      val ev = graft.Tables.events(spark, dir).withColumn("d", to_date(col("ts")))
      val days = ev.select(col("d").cast("string")).distinct()
        .collect().map(_.getString(0)).sorted
      val splitDay = days(days.length * 2 / 3)
      val mv = fixtureDir.toString
      sketchInit(ev.filter(col("d").cast("string") < splitDay), mv)
      (mv, splitDay)
    }

  /** Driver entry: daily distinct-user estimates from the maintained
    * sketch view after today's batch unions in. Estimates are
    * register-max merges, so union-of-sketches equals the
    * sketch-of-everything (IncrAggSpec asserts estimate equality with a
    * full recompute). The sketch is the deterministic cross-engine HLL
    * of [[graft.functions.HllSketch]], so the DuckDB oracle recomputes
    * the registers from a DIRECT scan of the full events table —
    * hash-green therefore proves the MV maintenance (historical
    * partials + today's batch, merged) exact, not just plausible.
    */
  def qHllView(spark: SparkSession, dir: String): DataFrame = {
    val (mv, splitDay) = ensureSketchMv(spark, dir)
    val batch = graft.Tables.events(spark, dir)
      .filter(to_date(col("ts")).cast("string") >= splitDay)
    sketchMergedView(spark, mv, batch)
      .select(col("day"), col("event_type"),
        graft.functions.Hll.estimate(col("users_sk")).as("est_users"),
        col("n_events"))
      .orderBy("day", "event_type")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_incr_agg" -> (qIncrAgg _),
    "q_hll_view" -> (qHllView _))

  val oracles: Map[String, String] = Map(
    // the incremental merge must equal the full-history aggregate
    "q_incr_agg" ->
      """SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,
    // direct full-scan register mirror (functions.HllSketch) vs the
    // engine's MV-merged sketches: equality proves the incremental
    // maintenance exact
    "q_hll_view" ->
      s"""WITH hin AS (
         |  SELECT CAST(ts AS DATE) AS day, event_type, user_id AS uid
         |  FROM events WHERE user_id IS NOT NULL),
         |${graft.functions.HllSketch.estimateCtes("day, event_type")},
         |base AS (
         |  SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n_events
         |  FROM events GROUP BY 1, 2)
         |SELECT b.day, b.event_type, coalesce(h.est_users, 0) AS est_users,
         |       b.n_events
         |FROM base b LEFT JOIN hest h
         |  ON h.day IS NOT DISTINCT FROM b.day
         |  AND h.event_type IS NOT DISTINCT FROM b.event_type
         |ORDER BY b.day, b.event_type""".stripMargin)
}

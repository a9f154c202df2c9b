package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Scale utilities: skew-tolerant aggregation/joins and bucketed layout
  * for co-located (shuffle-free) joins.
  *
  * Posture: AQE (on in GraftSession) already splits skewed partitions for
  * sort-merge joins at runtime; these helpers cover the residual cases —
  * aggregation skew (one hot group key) and repeated joins on the same key
  * where paying one bucketed write removes the exchange from every
  * subsequent join.
  */
object Scale {

  /** Two-phase salted aggregation for hot grouping keys: rows are spread
    * over `nSalts` sub-groups, partially aggregated per (key, salt), then
    * merged per key — the hot key's work lands on `nSalts` tasks instead
    * of one. Caller supplies both phases because only algebraic
    * aggregates decompose (sum/count/min/max and compositions).
    *
    * saltedAggregate(li, Seq(col("k")), 16,
    *   Seq(sum("x").as("px"), count(lit(1)).as("pc")),
    *   Seq(sum("px").as("sum_x"), sum("pc").as("n")))
    */
  def saltedAggregate(
      df: DataFrame, keys: Seq[Column], nSalts: Int,
      partial: Seq[Column], merge: Seq[Column]): DataFrame = {
    val salted = df.withColumn("__salt", pmod(monotonically_increasing_id(), lit(nSalts.toLong)))
    salted
      .groupBy(keys :+ col("__salt"): _*)
      .agg(partial.head, partial.tail: _*)
      .drop("__salt")
      .groupBy(keys: _*)
      .agg(merge.head, merge.tail: _*)
  }

  /** Skew-tolerant equi-join of a skewed big side against a small side
    * that is broadcast-marginal: the small side is replicated `nSalts`
    * times, the big side salted per row, and the join key becomes
    * (key, salt) so one hot key spreads over `nSalts` tasks.
    */
  def saltedJoin(
      big: DataFrame, small: DataFrame, joinKey: String, nSalts: Int,
      joinType: String = "inner"): DataFrame = {
    // Replicating the small side nSalts times would emit each unmatched
    // small-side row nSalts times under right/full outer joins — only
    // big-side-preserving join types are sound here.
    require(Set("inner", "left", "left_outer", "leftouter", "left_semi", "leftsemi",
        "left_anti", "leftanti").contains(joinType.toLowerCase.replace(" ", "")),
      s"saltedJoin supports inner/left/left_semi/left_anti joins, got: $joinType")
    val saltedBig = big.withColumn(
      "__salt", pmod(monotonically_increasing_id(), lit(nSalts.toLong)))
    val replicatedSmall = small.withColumn(
      "__salt", explode(sequence(lit(0L), lit(nSalts.toLong - 1))))
    saltedBig.join(replicatedSmall, Seq(joinKey, "__salt"), joinType).drop("__salt")
  }

  /** Bucketed, sorted table layout: pays one clustered write so that every
    * later equi-join/aggregation on `key` between same-bucketing tables
    * runs without an exchange (SortMergeJoin reads co-located buckets).
    */
  def writeBucketed(df: DataFrame, table: String, key: String, nBuckets: Int): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .format("parquet")
      .bucketBy(nBuckets, key)
      .sortBy(key)
      .saveAsTable(table)

  /** Morton (Z-order) interleave of two 16-bit grid coordinates — the
    * multi-dimensional clustering key. Files written in z order are
    * narrow in BOTH dimensions at once, so parquet min/max row-group
    * stats prune scans filtered on either column (a linear sort only
    * prunes its leading column; secondary-column file ranges stay
    * full-width).
    */
  def zValue(x: Column, y: Column, bits: Int = 16): Column =
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }

  /** Scale a numeric column onto the 16-bit z grid between known bounds. */
  private def toGrid(c: Column, lo: Double, hi: Double): Column =
    if (hi <= lo) lit(0L)
    else least(lit(65535L), greatest(lit(0L),
      floor((c.cast("double") - lit(lo)) / lit(hi - lo) * 65535.0).cast("long")))

  /** Z-ordered parquet write on two numeric columns: grid each column
    * between its min/max (one tiny pre-aggregate — the only driver-side
    * data is 4 scalars), interleave bits, range-partition + sort by the
    * z value, write `nFiles` files. Equality with the input is trivially
    * preserved (layout only); ScaleSpec asserts the payoff — per-file
    * min/max spans shrink on BOTH dimensions, which is what row-group
    * stats pruning consumes at scan time.
    *
    * At 100 TB the min/max pre-pass becomes a percentile pre-pass
    * (linear gridding is skew-sensitive) — implemented as
    * [[writeZOrderedQuantile]]; the interleave and write shape are
    * unchanged.
    */
  def writeZOrdered(
      df: DataFrame, path: String, xCol: String, yCol: String, nFiles: Int): Unit = {
    val b = df.agg(
      min(col(xCol).cast("double")), max(col(xCol).cast("double")),
      min(col(yCol).cast("double")), max(col(yCol).cast("double"))).head()
    val z = zValue(
      toGrid(col(xCol), b.getDouble(0), b.getDouble(1)),
      toGrid(col(yCol), b.getDouble(2), b.getDouble(3)))
    df.withColumn("__z", z)
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Rank-space grid cell for a value against sorted quantile boundaries:
    * the number of boundaries at or below it (a monotone 0..boundaries.length
    * bucketing, codegen'd as a fold of comparisons — no interpreted HOF).
    */
  private def quantileGrid(c: Column, boundaries: Seq[Double]): Column =
    boundaries.foldLeft(lit(0L)) { (acc, b) =>
      acc + when(c.cast("double") >= b, 1L).otherwise(0L)
    }

  /** Quantile-gridded z-order — the skew-tolerant form [[writeZOrdered]]'s
    * scaladoc names as the 100 TB path, as code: each dimension is
    * bucketed by its own approximate percentile boundaries (equal
    * OCCUPANCY per cell) instead of a linear min/max grid (equal WIDTH
    * per cell). Under a heavy-tailed column a linear grid collapses —
    * most rows land in a few cells, the z-curve loses locality, and
    * per-file spans stop pruning; rank-space cells keep the curve
    * balanced regardless of the distribution. The percentile pre-pass is
    * one `approxQuantile` (Greenwald-Khanna: a single scan, bounded
    * sketch per partition — no sort, no collect of data rows); 16
    * boundaries per dimension suffice because pruning granularity only
    * needs to match the file count (16×16 cells over `nFiles` files).
    */
  def writeZOrderedQuantile(
      df: DataFrame, path: String, xCol: String, yCol: String, nFiles: Int,
      buckets: Int = 16): Unit = {
    val probs = (1 until buckets).map(_.toDouble / buckets).toArray
    val bounds = df.stat.approxQuantile(Array(xCol, yCol), probs, 0.001)
    val bits = math.max(1, 32 - Integer.numberOfLeadingZeros(buckets - 1)) // ceil(log2)
    val z = zValue(
      quantileGrid(col(xCol), bounds(0).toSeq.distinct.sorted),
      quantileGrid(col(yCol), bounds(1).toSeq.distinct.sorted),
      bits)
    df.withColumn("__z", z)
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Training-shard export — the last step of a corpus build: write the
    * curated corpus as `nShards` equal-weight files in a deterministic
    * pseudo-random order (training ingestion reads shards sequentially,
    * so the SHARD LAYOUT is the shuffle). Shard assignment and in-shard
    * order both hash the stable id — never `rand()` — so the export is
    * byte-reproducible across runs and task retries, and any shard can
    * be rebuilt alone. One hash-partition exchange + in-partition sort;
    * no global order, no driver bottleneck, balanced by md5 uniformity
    * at any corpus size.
    */
  def writeTrainingShards(
      df: DataFrame, path: String, idCol: String, nShards: Int): Unit = {
    val h = md5(col(idCol).cast("string").cast("binary"))
    df.withColumn("__shard", pmod(conv(substring(h, 1, 8), 16, 10).cast("long"), lit(nShards.toLong)).cast("int"))
      .repartition(nShards, col("__shard"))
      .sortWithinPartitions(col("__shard"), md5(col(idCol).cast("string").cast("binary")))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("__shard")
      .parquet(path)
  }

  /** Small-file compaction: rewrite a maintained store into
    * ceil(bytes / targetFileBytes) files. Incremental pipelines accrete
    * tiny files (one-per-task-per-batch); at scale the file count, not
    * the data volume, starts to dominate listing and scan startup.
    * The rewrite is a [[graft.ops.Publish]] like any other: the new
    * version commits with one pointer create, so a reader never sees a
    * half-compacted store and a crash leaves the old version serving.
    */
  def compact(spark: SparkSession, path: String, targetFileBytes: Long = 128L << 20): Unit = {
    val live = Publish.liveDir(spark, path)
    val p = new org.apache.hadoop.fs.Path(live)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(p).getLength
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    Publish.publish(spark, path, spark.read.parquet(live).repartition(nFiles))
  }
}

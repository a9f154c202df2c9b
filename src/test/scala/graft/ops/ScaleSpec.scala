package graft.ops

import graft.{SparkSuite, Tables}
import org.apache.spark.sql.functions._

/** Skew/bucketing utilities: salted phases must be result-identical to
  * the plain forms, and bucketed joins must not exchange.
  */
class ScaleSpec extends SparkSuite {
  val dir = "/root/testdata/sf0.001"

  test("salted aggregation equals plain aggregation") {
    val li = Tables.lineitem(spark, dir)
    val plain = li.groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    val salted = Scale.saltedAggregate(
      li, Seq(col("l_returnflag")), 16,
      Seq(sum(col("l_quantity")).as("px"), count(lit(1)).as("pc")),
      Seq(sum(col("px")).as("sum_qty"), sum(col("pc")).as("n")))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    assert(salted === plain)
  }

  test("salted join equals plain join") {
    val li = Tables.lineitem(spark, dir).select("l_orderkey", "l_partkey", "l_quantity")
      .withColumnRenamed("l_partkey", "p_partkey")
    val part = Tables.part(spark, dir).select("p_partkey", "p_brand")
    val cols = Seq("l_orderkey", "p_partkey", "l_quantity", "p_brand")
    val plain = li.join(part, "p_partkey")
      .select(cols.map(col): _*).collect().map(_.toString).sorted
    val salted = Scale.saltedJoin(li, part, "p_partkey", 8)
      .select(cols.map(col): _*).collect().map(_.toString).sorted
    assert(salted.toSeq === plain.toSeq)
  }

  test("bucketed tables join without an exchange") {
    Scale.writeBucketed(
      Tables.orders(spark, dir).select("o_orderkey", "o_custkey", "o_totalprice"),
      "orders_b", "o_orderkey", 8)
    Scale.writeBucketed(
      Tables.lineitem(spark, dir).select("l_orderkey", "l_quantity"),
      "lineitem_b", "l_orderkey", 8)
    // force the sort-merge path (these test tables are broadcast-sized;
    // at real scale neither side broadcasts and this is the plan)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("orders_b").join(
        spark.table("lineitem_b"),
        col("o_orderkey") === col("l_orderkey"))
      val plan = joined.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("hashpartitioning"),
        s"bucketed join should read co-located buckets, not shuffle:\n$plan")
      assert(joined.count() === 6000)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("z-ordered layout narrows per-file ranges on BOTH dimensions") {
    val ev = Tables.events(spark, dir).select("event_id", "user_id", "value")
    val g = ev.agg(
      min(col("user_id").cast("double")), max(col("user_id").cast("double")),
      min(col("value")), max(col("value"))).head()
    val (xr, yr) = (g.getDouble(1) - g.getDouble(0), g.getDouble(3) - g.getDouble(2))

    // mean per-file normalized (span_x, span_y) over a layout's files
    def spans(path: String): (Double, Double) = {
      val files = new java.io.File(path).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
      assert(files.length > 8, s"expected many files, got ${files.length}")
      val s = files.map { f =>
        val r = spark.read.parquet(f).agg(
          min(col("user_id").cast("double")), max(col("user_id").cast("double")),
          min(col("value")), max(col("value"))).head()
        ((r.getDouble(1) - r.getDouble(0)) / xr, (r.getDouble(3) - r.getDouble(2)) / yr)
      }
      (s.map(_._1).sum / s.length, s.map(_._2).sum / s.length)
    }

    val zPath = tempDir("zorder").toString + "/z"
    Scale.writeZOrdered(ev, zPath, "user_id", "value", 16)
    // layout-only: every row survives
    assert(spark.read.parquet(zPath).count() === ev.count())
    val (zx, zy) = spans(zPath)

    // baseline: linear sort on user_id alone
    val linPath = tempDir("zorder").toString + "/lin"
    ev.repartitionByRange(16, col("user_id")).sortWithinPartitions(col("user_id"))
      .write.mode("overwrite").parquet(linPath)
    val (lx, ly) = spans(linPath)

    // linear files are narrow on the sort column but wide on value
    // (not fully 1.0: a heavy-tailed value column rarely realizes its
    // extremes in a 1/16 sample)
    assert(lx < 0.2, s"linear leading-column span $lx")
    assert(ly > 0.55, s"linear secondary-column span $ly")
    // z-order narrows BOTH (16 range partitions of z ~ a 4x4 grid), and
    // beats the linear layout's secondary span by a wide margin
    assert(zx < 0.6, s"z-order user_id span $zx")
    assert(zy < 0.6, s"z-order value span $zy")
    assert(zy < ly / 1.5, s"z-order value span $zy vs linear $ly")
  }

  test("quantile z-order keeps rank locality under heavy skew where linear gridding collapses") {
    import spark.implicits._
    // x = u^8: ~84% of rows land in the first 1/16 of the VALUE range, so
    // a linear grid puts them all in one cell; x is monotone in id, so id
    // is x's exact rank and per-file (max(id)-min(id))/n measures the
    // rank-space span pruning actually sees
    val n = 20000
    val df = spark.range(n).select(
      col("id"),
      pow(col("id").cast("double") / n, 8.0).as("x"),
      (col("id") % 97).cast("double").as("y"))

    def meanRankSpan(path: String): Double = {
      val files = new java.io.File(path).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.toString)
      val spans = files.map { f =>
        val r = spark.read.parquet(f).agg(min(col("id")), max(col("id"))).head()
        (r.getLong(1) - r.getLong(0)).toDouble / n
      }
      spans.sum / spans.length
    }

    val qPath = tempDir("zq").toString + "/q"
    Scale.writeZOrderedQuantile(df, qPath, "x", "y", 16)
    assert(spark.read.parquet(qPath).count() === n)

    val linPath = tempDir("zq").toString + "/lin"
    Scale.writeZOrdered(df, linPath, "x", "y", 16)

    val (qs, ls) = (meanRankSpan(qPath), meanRankSpan(linPath))
    // 16 files over a 16x16 Morton grid = 4x4 blocks -> ~0.25 ideal rank
    // span; allow boundary + quantile-sketch + range-sampling slop
    assert(qs < 0.45, s"quantile z-order rank span $qs")
    assert(qs < ls / 1.5, s"quantile rank span $qs must beat linear $ls by 1.5x under skew")
  }

  test("training shard export: complete, balanced, deterministic, shards independently ordered") {
    val docs = Tables.documents(spark, dir).select("doc_id", "n_chars")
    val p1 = tempDir("shards").toString + "/a"
    Scale.writeTrainingShards(docs, p1, "doc_id", 8)
    val dirs = new java.io.File(p1).listFiles().map(_.getName).filter(_.startsWith("__shard="))
    assert(dirs.sorted.toSeq === (0 until 8).map(s => s"__shard=$s"))
    // complete: every doc exactly once
    val back = spark.read.parquet(p1)
    assert(back.count() === docs.count())
    assert(back.select("doc_id").distinct().count() === docs.count())
    // balanced: md5 uniformity keeps shard sizes within 2x of each other
    val sizes = back.groupBy(col("__shard")).count().collect().map(_.getLong(1))
    assert(sizes.max < 2 * sizes.min, s"shard sizes ${sizes.toSeq}")
    // deterministic: a second export produces identical per-shard content
    val p2 = tempDir("shards").toString + "/b"
    Scale.writeTrainingShards(docs, p2, "doc_id", 8)
    def shardRows(p: String, s: Int) =
      spark.read.parquet(s"$p/__shard=$s").collect().map(_.toString).toSeq
    (0 until 8).foreach(s => assert(shardRows(p1, s) === shardRows(p2, s)))
    // in-shard order is the md5 pseudo-random order, not id order
    val ids = spark.read.parquet(s"$p1/__shard=0").select("doc_id")
      .collect().map(_.getLong(0)).toSeq
    assert(ids !== ids.sorted, "shard order must be hash-shuffled, not id-ordered")
  }

  test("compaction merges many small files into few, preserving every row") {
    import spark.implicits._
    val path = tempDir("compact_tbl").toString
    // 64 tiny files
    Publish.publish(spark, path, (1L to 6400L).toDF("v").repartition(64))
    def parquetFiles = new java.io.File(Publish.liveDir(spark, path)).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(parquetFiles === 64)
    Scale.compact(spark, path, targetFileBytes = 1L << 30)
    assert(parquetFiles === 1, "1 GiB target must collapse tiny files to one")
    val vs = Publish.readLive(spark, path).as[Long].collect().sorted
    assert(vs.toSeq === (1L to 6400L))
    // the superseded version was collected: one version, one pointer
    assert(new java.io.File(path).list().filter(_.startsWith("_")).sorted.toSeq ===
      Seq("_ptr-00000001", "_v-00000001"))
  }
}

package graft.sources

import graft.SparkSuite
import graft.ext.Multimodal.MediaCodec
import org.apache.spark.sql.functions._

/** DataSource V2 surface: the GVID container source must decode
  * correctly, prune columns down to the reader, and skip pixel decode
  * for metadata-only projections.
  */
class SourcesSpec extends SparkSuite {

  private def stageContainers(): (String, Map[String, Seq[Array[Byte]]]) = {
    val dir = tempDir("gvid_src").toString
    val byFile = (0 until 3).map { f =>
      val frames = Seq.tabulate(4 + f) { i =>
        val rgb = Array.tabulate(8 * 8 * 3)(p => ((p * 3 + f * 17 + i * 11) % 256).toByte)
        MediaCodec.encodeBmp(8, 8, rgb)
      }
      val blob = MediaCodec.encodeVideo(frames)
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/v$f.gvid"), blob)
      s"v$f.gvid" -> frames
    }.toMap
    (dir, byFile)
  }

  test("gvid source rows match the direct decoder") {
    val (dir, byFile) = stageContainers()
    val got = spark.read.format("graft.sources.GvidSource").load(dir)
      .orderBy("file", "frame_idx").collect()
    assert(got.length === byFile.values.map(_.length).sum)
    got.foreach { r =>
      val (file, idx) = (r.getString(0), r.getInt(1))
      val frames = byFile(file)
      assert(r.getInt(2) === frames.length)
      val img = MediaCodec.decodeBmp(frames(idx)).get
      assert(r.getInt(3) === img.width && r.getInt(4) === img.height)
      val lum = 0.299 * img.meanR + 0.587 * img.meanG + 0.114 * img.meanB
      assert(r.getDouble(5) === math.rint(lum * 10000) / 10000)
    }
  }

  test("column pruning reaches the gvid reader; metadata scans skip pixel decode") {
    val (dir, byFile) = stageContainers()
    val meta = spark.read.format("graft.sources.GvidSource").load(dir)
      .select("file", "n_frames").distinct()
    val plan = meta.queryExecution.executedPlan.toString
    assert(plan.contains("decode=false"), s"metadata scan must not decode:\n$plan")
    assert(!plan.contains("mean_lum"), s"pruned column leaked into the scan:\n$plan")
    val counts = meta.collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(counts === byFile.view.mapValues(_.length).toMap)

    val full = spark.read.format("graft.sources.GvidSource").load(dir)
      .select("file", "mean_lum")
    assert(full.queryExecution.executedPlan.toString.contains("decode=true"))
    assert(full.count() === byFile.values.map(_.length).sum)
  }

  test("file filters push down to partition planning: only matching files are read") {
    val (dir, byFile) = stageContainers()
    val one = spark.read.format("graft.sources.GvidSource").load(dir)
      .filter(col("file") === "v1.gvid")
    assert(one.rdd.getNumPartitions === 1, "equality filter must prune to one partition")
    assert(one.queryExecution.executedPlan.toString.contains("files=1"))
    assert(one.collect().map(_.getString(0)).distinct.toSeq === Seq("v1.gvid"))
    assert(one.count() === byFile("v1.gvid").length)

    val two = spark.read.format("graft.sources.GvidSource").load(dir)
      .filter(col("file").isin("v0.gvid", "v2.gvid"))
    assert(two.rdd.getNumPartitions === 2)
    assert(two.collect().map(_.getString(0)).distinct.sorted.toSeq === Seq("v0.gvid", "v2.gvid"))

    // conjunction of pushed filters intersects: equality AND isin
    val none = spark.read.format("graft.sources.GvidSource").load(dir)
      .filter(col("file") === "v1.gvid" && col("file").isin("v0.gvid", "v2.gvid"))
    assert(none.count() === 0)

    // non-file predicates stay post-scan and still apply
    val frames0 = spark.read.format("graft.sources.GvidSource").load(dir)
      .filter(col("file") === "v2.gvid" && col("frame_idx") === 0)
    assert(frames0.count() === 1)
  }

  test("count(*) pushes down to the 8-byte container header") {
    val (dir, byFile) = stageContainers()
    val perFile = spark.read.format("graft.sources.GvidSource").load(dir)
      .groupBy("file").count()
    val plan = perFile.queryExecution.executedPlan.toString
    assert(plan.contains("countFromHeader=true"), s"count must come from the header:\n$plan")
    assert(perFile.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ===
      byFile.view.mapValues(_.length.toLong).toMap)
    // global count: partial per-file counts merged by Spark's final agg
    val total = spark.read.format("graft.sources.GvidSource").load(dir).count()
    assert(total === byFile.values.map(_.length).sum.toLong)
    // composes with file-filter partition pruning
    val one = spark.read.format("graft.sources.GvidSource").load(dir)
      .filter(col("file") === "v1.gvid").count()
    assert(one === byFile("v1.gvid").length.toLong)
    // a non-count aggregate does NOT push and still decodes correctly
    val lum = spark.read.format("graft.sources.GvidSource").load(dir)
      .groupBy("file").agg(avg(col("mean_lum")))
    assert(lum.queryExecution.executedPlan.toString.contains("countFromHeader=false"))
    assert(lum.collect().length === 3)
  }

  test("gvid source aggregates like any other table") {
    val (dir, _) = stageContainers()
    val agg = spark.read.format("graft.sources.GvidSource").load(dir)
      .groupBy("file")
      .agg(count(lit(1)).as("n"), round(avg(col("mean_lum")), 4).as("avg_lum"))
      .orderBy("file")
      .collect()
    assert(agg.length === 3)
    assert(agg.forall(_.getLong(1) >= 4))
  }
}

package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.functions._

class UpsertSpec extends SparkSuite {

  test("upsert rewrites only touched partitions: update, insert, new partition") {
    import spark.implicits._
    val table = tempDir("upsert_tbl").toString
    Seq(
      (1L, "a-v1", "d1"), (2L, "b-v1", "d1"),
      (3L, "c-v1", "d2"), (4L, "d-v1", "d2"),
      (5L, "e-v1", "d3"))
      .toDF("k", "v", "day")
      .write.partitionBy("day").mode("overwrite").parquet(table)

    def files(day: String): Map[String, Long] = {
      val dir = new java.io.File(s"$table/day=$day")
      dir.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val d1Before = files("d1")
    val d3Before = files("d3")

    // changeset: update k=3 in d2, insert k=6 into d2, open new partition d4
    val changes = Seq(
      (3L, "c-v2", "d2"), (6L, "f-v1", "d2"), (7L, "g-v1", "d4"))
      .toDF("k", "v", "day")
    Upsert.upsertPartitioned(spark, table, changes, Seq("k"), Seq("day"))

    val got = spark.read.parquet(table)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(got.toSeq === Seq(
      (1L, "a-v1", "d1"), (2L, "b-v1", "d1"),
      (3L, "c-v2", "d2"), (4L, "d-v1", "d2"),
      (5L, "e-v1", "d3"), (6L, "f-v1", "d2"), (7L, "g-v1", "d4")))

    // untouched partitions keep their exact files (same names + mtimes)
    assert(files("d1") === d1Before)
    assert(files("d3") === d3Before)
    // staging scratch is gone
    assert(!new java.io.File(table.stripSuffix("/") + "__staging").exists())
  }

  test("upsert read of current data is pruned to touched partitions") {
    import spark.implicits._
    val table = tempDir("upsert_prune").toString
    Seq((1L, "x", "d1"), (2L, "y", "d2")).toDF("k", "v", "day")
      .write.partitionBy("day").mode("overwrite").parquet(table)
    // same pruned-read shape upsertPartitioned builds internally
    val plan = spark.read.parquet(table)
      .filter(concat_ws("", col("day").cast("string")).isin("d2"))
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    val pf = plan.linesIterator.filter(_.contains("PartitionFilters")).mkString
    assert(pf.contains("day"), s"partition filter must reach the scan:\n$plan")
  }
}

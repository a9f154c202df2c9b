package graft

import org.apache.spark.sql.functions._

/** `Tables.metadataRowCount` must agree exactly with `count()` on bare
  * parquet scans (it replaces the staircase sizers' pre-query count job
  * with a driver-side footer read) and must fall back to a real count
  * on any frame where footer totals would be wrong.
  */
class TablesSpec extends SparkSuite {

  val dir = "/root/testdata/sf0.001"

  test("metadataRowCount equals count() on bare parquet scans") {
    Seq("embeddings", "documents", "lineitem").foreach { name =>
      val df = Tables.load(spark, dir, name)
      assert(Tables.metadataRowCount(df) === df.count(), name)
    }
  }

  test("metadataRowCount falls back to count() off the bare-scan path") {
    import spark.implicits._
    // filtered scan: footer totals would overcount — must match count()
    val filtered = Tables.embeddings(spark, dir).filter(col("vec_id") < 10)
    assert(Tables.metadataRowCount(filtered) === filtered.count())
    // constructed in-memory frame: no files at all
    val local = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s")
    assert(Tables.metadataRowCount(local) === 3L)
  }

  test("metadataRowCount sums footers across a multi-file parquet write") {
    import spark.implicits._
    val tmp = tempDir("graft_multifile").toString
    (0L until 1000L).toDF("id").repartition(7).write.parquet(s"$tmp/t.parquet")
    val back = spark.read.parquet(s"$tmp/t.parquet")
    assert(back.inputFiles.length === 7)
    assert(Tables.metadataRowCount(back) === 1000L)
  }
}

package graft.sources

import graft.{SparkSuite, Tables}
import org.apache.spark.sql.functions._

/** Interchange-format round-trips: ORC and JSON-lines must preserve
  * rows, schema, and types (timestamps, doubles, arrays) against the
  * parquet source of truth, and the ORC scan must push filters like
  * the parquet one does.
  */
class FormatsSpec extends SparkSuite {
  val sfDir = "/root/testdata/sf0.001"

  private def tmp(name: String): String =
    tempDir(name).toString

  private def assertSameRows(a: org.apache.spark.sql.DataFrame,
                             b: org.apache.spark.sql.DataFrame): Unit = {
    assert(a.schema === b.schema, "schema drift through the round-trip")
    assert(a.except(b).count() === 0L && b.except(a).count() === 0L)
  }

  test("ORC round-trip preserves lineitem rows, schema and timestamps") {
    val src = Tables.lineitem(spark, sfDir)
    val dir = tmp("fmt_orc")
    Formats.writeOrc(src, dir)
    assertSameRows(src, Formats.readOrc(spark, dir))
  }

  test("ORC round-trip preserves float-array embeddings") {
    val src = Tables.embeddings(spark, sfDir)
    val dir = tmp("fmt_orc_emb")
    Formats.writeOrc(src, dir)
    assertSameRows(src, Formats.readOrc(spark, dir))
  }

  test("partitioned ORC write prunes partitions on read") {
    val src = Tables.lineitem(spark, sfDir)
      .withColumn("flag", col("l_returnflag"))
    val dir = tmp("fmt_orc_part")
    Formats.writeOrc(src, dir, Seq("flag"))
    val pruned = Formats.readOrc(spark, dir).filter(col("flag") === "R")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(pruned.count() === src.filter(col("flag") === "R").count())
    // partition filter must not survive as a data filter over all files
    assert(plan.contains("PartitionFilters") || !plan.contains("flag#"))
  }

  test("ORC scan pushes predicates and prunes columns") {
    val src = Tables.lineitem(spark, sfDir)
    val dir = tmp("fmt_orc_push")
    Formats.writeOrc(src, dir)
    val q = Formats.readOrc(spark, dir)
      .filter(col("l_quantity") > 40.0)
      .select("l_orderkey", "l_quantity")
    val formatted = q.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(formatted.contains("PushedFilters: [") &&
      formatted.contains("GreaterThan(l_quantity"), s"no pushed filter:\n$formatted")
    val readSchema = formatted.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.nonEmpty && !readSchema.contains("l_extendedprice"),
      s"column pruning lost: $readSchema")
    assert(q.count() === src.filter(col("l_quantity") > 40.0).count())
  }

  test("JSON-lines round-trip with explicit schema preserves orders incl. timestamps") {
    val src = Tables.orders(spark, sfDir)
    val dir = tmp("fmt_jsonl")
    Formats.writeJsonl(src, dir, gzip = true)
    val back = Formats.readJsonl(spark, dir, src.schema)
    assertSameRows(src, back)
  }

  test("parquet-to-ORC conversion bounds output file count without a shuffle") {
    val dir = tmp("fmt_conv")
    Formats.convertOrc(spark, s"$sfDir/lineitem.parquet", dir, targetFiles = 2)
    val files = new java.io.File(dir).listFiles().count(_.getName.endsWith(".orc"))
    assert(files <= 2, s"$files ORC files written")
    assert(Formats.readOrc(spark, dir).count() ===
      spark.read.parquet(s"$sfDir/lineitem.parquet").count())
  }
}

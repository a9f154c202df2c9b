package graft.etl

import graft.GraftSession
import graft.qc.Checks
import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}

/** End-to-end batch pipeline: the reference's Airflow DAG collapsed to a
  * sequential main (its only semantic content is ordering — SURVEY §3.3):
  * ETL (bal_auth + time + weather) then QC, reading/writing any
  * Hadoop-supported path directly (the reference's s3-dist-cp staging
  * steps are an EMR-ism, not engine semantics).
  *
  * Usage: Pipeline <inputDir> <outputDir>
  *   inputDir/bal_auth/&#42;.gz|csv    EIA-930 hourly CSVs (gzip transparent)
  *   inputDir/weather/&#42;.gz|csv     GHCN-Daily element CSVs
  *   inputDir/weather/locations.csv station↔BA mapping
  */
object Pipeline {

  def readEia(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", true).csv(path)

  def readGhcn(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", false).schema(Schemas.ghcnDaily).csv(path)

  /** Malformed-row audit for the schematized GHCN read: the same scan in
    * PERMISSIVE mode with a corrupt-record column, returning clean rows
    * plus the raw text of every row the schema could not parse — the
    * triage artifact a production ingest keeps next to the load (silent
    * DROPMALFORMED loses data; FAILFAST aborts a 100 TB job for one bad
    * line). The audit is the same single scan: corrupt capture is a
    * per-row parse outcome, no extra pass.
    */
  def readGhcnAudit(spark: SparkSession, path: String): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.col
    val schema = Schemas.ghcnDaily.add("_corrupt_record", "string")
    val all = spark.read
      .option("header", false)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(schema)
      .csv(path)
      .cache() // one scan serves both splits; Spark requires a cache for
               // corrupt-record-only projections anyway (SPARK-21610)
    val clean = all.filter(col("_corrupt_record").isNull).drop("_corrupt_record")
    val bad = all.filter(col("_corrupt_record").isNotNull)
      .select(col("_corrupt_record").as("raw_line"))
    (clean, bad)
  }

  def readLocations(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", true).csv(path)

  /** Overwrite-partitioned parquet write; `dynamic = true` replaces only
    * the partitions the frame contains (dynamic partition overwrite),
    * leaving every other partition on disk untouched.
    */
  private def writePartitioned(
      df: DataFrame, parts: Seq[String], path: String, dynamic: Boolean): Unit = {
    val w = df.write.mode(SaveMode.Overwrite).partitionBy(parts: _*)
    (if (dynamic) w.option("partitionOverwriteMode", "dynamic") else w).parquet(path)
  }

  /** The one write path both [[runEtl]] and [[runEtlObserved]] share.
    * `instrument` lets a caller attach per-table observations (or any
    * pass-through transform) WITHOUT duplicating the glob contract,
    * table order, or partition layout — the observed variant must write
    * byte-identical output, so there is deliberately no second copy of
    * this sequence to drift.
    */
  private def etlWrites(
      spark: SparkSession, inputDir: String, outputDir: String, dynamic: Boolean,
      instrument: (String, DataFrame) => DataFrame = (_, df) => df): Unit = {
    // The reference globs "/*.gz" (nrg_etl.py:20,40) — keep that contract
    // so the weather dir can also hold locations.csv without colliding.
    val eia = readEia(spark, s"$inputDir/bal_auth/*.gz")
    writePartitioned(instrument("bal_auth", BalAuth.balAuthTable(eia)),
      Seq("bal_auth", "year", "month"), s"$outputDir/bal_auth", dynamic)
    writePartitioned(instrument("time", BalAuth.timeDim(eia)),
      Seq("year", "month"), s"$outputDir/time", dynamic)

    val ghcn = readGhcn(spark, s"$inputDir/weather/*.gz")
    val locations = readLocations(spark, s"$inputDir/weather/locations.csv")
    writePartitioned(instrument("weather", Weather(ghcn, locations)),
      Seq("bal_auth", "year", "month"), s"$outputDir/weather", dynamic)
  }

  /** Partitioned parquet writes (S5). Partition layout mirrors the
    * reference (time: year/month; bal_auth + weather: bal_auth/year/month)
    * — at 100 TB this gives partition pruning on the dominant predicates
    * (date range, balancing authority) for every downstream consumer.
    */
  def runEtl(spark: SparkSession, inputDir: String, outputDir: String): Unit =
    etlWrites(spark, inputDir, outputDir, dynamic = false)

  /** Incremental cadence: the reference runs this pipeline as a daily
    * serialized batch (spark_submit_airflow.py:163-177). A full-table
    * overwrite per day is the 100 TB anti-pattern; this variant writes
    * with DYNAMIC partition overwrite, replacing exactly the
    * (bal_auth, year, month) partitions present in the arriving batch and
    * leaving all others untouched. The batch must therefore carry
    * complete data for every partition it touches (the daily feed
    * reprocesses the open partition-to-date).
    */
  def runEtlIncremental(spark: SparkSession, inputDir: String, outputDir: String): Unit =
    etlWrites(spark, inputDir, outputDir, dynamic = true)

  /** Streaming face of the reference pipeline — the incremental-arrival
    * upgrade path the Streaming module's scaladoc promises: a file
    * stream watches the EIA gz drop directory and each micro-batch (one
    * file per trigger — `maxFilesPerTrigger` is pinned so one run can
    * never fuse same-partition files into one batch nor split them
    * unpredictably) runs the SAME balAuthTable transform and MERGES into
    * the table by natural key (bal_auth, local_time): rows whose key
    * reappears are replaced, every other row in the touched partitions
    * survives. Unlike [[runEtlIncremental]] — whose batch contract is
    * "carry complete data for every partition you touch" — a daily file
    * that merely ADDS a day to an open month is safe here: the
    * checkpoint guarantees old files are never reprocessed, so the merge
    * (not the batch) is what keeps the month's earlier days. Replaying a
    * failed micro-batch is idempotent because replace-by-key is.
    * Streaming CSV needs a fixed schema, so it is bound once from the
    * existing files (the header-name contract still holds).
    */
  def runEtlStream(spark: SparkSession, inputDir: String, outputDir: String): Unit = {
    val glob = s"$inputDir/bal_auth/*.gz"
    val outPath = s"$outputDir/bal_auth"
    Streams.drain(
      Streams.fileStream(spark, readEia(spark, glob).schema, glob, oneFilePerTrigger = true,
        format = "csv", options = Map("header" -> "true")),
      Streams.ForeachBatch(Some(s"$outputDir/_checkpoints/bal_auth"), { (batch, _) =>
        val day = BalAuth.balAuthTable(batch)
        val fs = new org.apache.hadoop.fs.Path(outPath)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(new org.apache.hadoop.fs.Path(outPath)))
          graft.ops.Upsert.upsertPartitioned(spark, outPath, day,
            keyCols = Seq("bal_auth", "local_time"),
            partCols = Seq("bal_auth", "year", "month"))
        else
          writePartitioned(day, Seq("bal_auth", "year", "month"), outPath, dynamic = true)
      }))
  }

  /** The ETL output dirs the QC checks read, by their QC table name. */
  private val qcTables = Map("bal_auth" -> "balancing_authorities", "weather" -> "weather")

  /** QC step: reads the ETL outputs back and runs the 8 reference checks
    * (one aggregate per table), writing a JSON error report (empty when
    * all pass).
    */
  def runQc(spark: SparkSession, outputDir: String): Seq[Checks.CheckResult] = {
    qcTables.foreach { case (dir, table) =>
      spark.read.parquet(s"$outputDir/$dir").createOrReplaceTempView(table)
    }
    val results = Checks.run(spark, Checks.referenceChecks)
    Checks.writeErrorReport(spark, results, s"$outputDir/data_quality")
    results
  }

  /** ETL + the reference's QC in ONE pass: the same partitioned writes
    * as [[runEtl]], with every balancing_authorities / weather check
    * accumulated via `Dataset.observe` INSIDE the write jobs — the
    * checks' counted Columns ride the scan that was happening anyway,
    * where [[runQc]] reads the output back. The post-hoc [[runQc]]
    * remains the independent audit path (PipelineSpec asserts both
    * produce identical CheckResults).
    */
  def runEtlObserved(
      spark: SparkSession, inputDir: String, outputDir: String): Seq[Checks.CheckResult] = {
    val observations = scala.collection.mutable.Map.empty[String, Observation]
    val instrument: (String, DataFrame) => DataFrame = (dir, df) =>
      qcTables.get(dir).fold(df) { table =>
        val (o, obs) = Checks.observed(df, Checks.referenceChecks.filter(_.table == table))
        observations(table) = obs
        o
      }
    etlWrites(spark, inputDir, outputDir, dynamic = false, instrument)
    val results = Checks.referenceChecks.map(c => c.observedIn(observations(c.table)))
    Checks.writeErrorReport(spark, results, s"$outputDir/data_quality")
    results
  }

  def main(args: Array[String]): Unit = {
    val Array(inputDir, outputDir) = args.take(2)
    val spark = GraftSession.local("graft-pipeline")
    try {
      runEtl(spark, inputDir, outputDir)
      val results = runQc(spark, outputDir)
      results.foreach(r => println(s"[qc] ${r.name}: ${if (r.passed) "pass" else s"FAIL (actual=${r.actual})"}"))
      if (results.exists(!_.passed)) sys.exit(1)
    } finally spark.stop()
  }
}

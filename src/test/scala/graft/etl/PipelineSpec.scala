package graft.etl

import graft.SparkSuite

/** Full-pipeline test: fixtures → partitioned parquet → QC report. */
class PipelineSpec extends SparkSuite {

  test("ETL writes partitioned parquet and QC flags the seeded violations") {
    val inputDir = fixture("")
    val out = java.nio.file.Files.createTempDirectory("pipeline_out").toString

    Pipeline.runEtl(spark, inputDir, out)

    // Hive-style partition layout
    val balDirs = new java.io.File(s"$out/bal_auth").listFiles().map(_.getName)
    assert(balDirs.exists(_.startsWith("bal_auth=PJM")))
    val timeDirs = new java.io.File(s"$out/time").listFiles().map(_.getName)
    assert(timeDirs.exists(_.startsWith("year=2021")) && timeDirs.exists(_.startsWith("year=2020")))

    // partition columns are readable back (partition pruning path)
    val bal = spark.read.parquet(s"$out/bal_auth")
    assert(bal.filter("bal_auth = 'PJM' AND year = 2021 AND month = 1").count() === 2)
    val weather = spark.read.parquet(s"$out/weather")
    assert(weather.filter("bal_auth = 'CISO'").count() === 2)

    val results = Pipeline.runQc(spark, out)
    assert(results.length === 8)
    // the report fields, pinned in the reference's check order
    assert(results.map(r => (r.name, r.expectEqual, r.expected, r.actual, r.passed)) === Seq(
      ("balancing_authorities_non_empty", false, 0L, 5L, true),
      ("balancing_authorities.bal_auth_not_null", true, 0L, 1L, false),
      ("net_generation_sum_of_parts", true, 0L, 1L, false),
      ("weather_non_empty", false, 0L, 3L, true),
      ("weather.station_id_not_null", true, 0L, 0L, true),
      ("weather.date_not_null", true, 0L, 0L, true),
      ("weather.TMIN_not_null", true, 0L, 1L, false),
      ("weather.TMAX_not_null", true, 0L, 1L, false)))
    assert(results.filterNot(_.name == "net_generation_sum_of_parts").map(_.sql) === Seq(
      "SELECT COUNT(*) FROM balancing_authorities",
      "SELECT COUNT(*) FROM balancing_authorities WHERE `bal_auth` IS NULL",
      "SELECT COUNT(*) FROM weather",
      "SELECT COUNT(*) FROM weather WHERE `station_id` IS NULL",
      "SELECT COUNT(*) FROM weather WHERE `date` IS NULL",
      "SELECT COUNT(*) FROM weather WHERE `TMIN` IS NULL",
      "SELECT COUNT(*) FROM weather WHERE `TMAX` IS NULL"))
    // seeded violations: null bal_auth partition value, net-gen mismatch,
    // TMIN/TMAX nulls from missing parameters
    assert(results.count(!_.passed) === 4)
    val report = spark.read.json(s"$out/data_quality")
    assert(report.count() === 4)
  }

  test("observed ETL run carries the full QC inside the writes, equal to post-hoc QC") {
    val inputDir = fixture("")
    val out = java.nio.file.Files.createTempDirectory("pipeline_obs").toString

    val observed = Pipeline.runEtlObserved(spark, inputDir, out)
    // the written output is byte-for-byte the plain ETL contract...
    val bal = spark.read.parquet(s"$out/bal_auth")
    assert(bal.filter("bal_auth = 'PJM' AND year = 2021 AND month = 1").count() === 2)
    // the OBSERVED run's error report, read BEFORE runQc overwrites it
    val observedReport = spark.read.json(s"$out/data_quality").collect()
    assert(observedReport.length === 4)
    // ...and the ride-along counters equal what a post-hoc scan computes
    val postHoc = Pipeline.runQc(spark, out)
    assert(observed.length === 8)
    assert(observed === postHoc,
      "observed counters must equal the post-hoc aggregates exactly")
    assert(observed.count(!_.passed) === 4) // the seeded violations
  }

  test("incremental run replaces only the arriving batch's partitions") {
    import java.nio.file.{Files, Paths}
    val out = java.nio.file.Files.createTempDirectory("pipeline_inc").toString
    Pipeline.runEtl(spark, fixture(""), out)
    def bal = spark.read.parquet(s"$out/bal_auth")
    val pjmJanBefore = bal.filter("bal_auth='PJM' AND year=2021 AND month=1").count()
    val cisoDecBefore = bal.filter("bal_auth='CISO' AND year=2020 AND month=12").count()
    assert(pjmJanBefore > 0 && cisoDecBefore > 0)

    // day-2 batch: a NEW month for PJM plus a corrected replay of the
    // CISO December partition (sentinel forecast value, 2 rows)
    val batch = Files.createTempDirectory("pipeline_day2")
    Files.createDirectories(batch.resolve("bal_auth"))
    Files.createDirectories(batch.resolve("weather"))
    val header = "Balancing Authority,Region,Data Date,Local Time at End of Hour," +
      "UTC Time at End of Hour,Demand Forecast (MW),Demand (MW) (Adjusted)," +
      "Net Generation (MW) (Adjusted),Net Generation (MW) from Coal," +
      "Net Generation (MW) from Natural Gas,Net Generation (MW) from Nuclear," +
      "Net Generation (MW) from All Petroleum Products," +
      "Net Generation (MW) from Hydropower and Pumped Storage," +
      "Net Generation (MW) from Solar,Net Generation (MW) from Wind," +
      "Net Generation (MW) from Other Fuel Sources," +
      "Net Generation (MW) from Unknown Fuel Sources,Demand (MW)"
    val rows = Seq(
      "PJM,Mid-Atlantic,02/10/2021,02/10/2021 1:00:00 AM,02/10/2021 6:00:00 AM,31250,30980,31500,8000,12000,9000,100,900,300,1000,150,50,31000",
      "CISO,CAL,12/31/2020,12/31/2020 10:00:00 PM,01/01/2021 6:00:00 AM,77777,20700,21100,1000,9000,2000,100,3000,4000,1900,80,20,20600",
      "CISO,CAL,12/31/2020,12/31/2020 11:00:00 PM,01/01/2021 7:00:00 AM,77777,20800,21200,1000,9000,2000,100,3000,4000,2000,80,20,20700")
    val gz = new java.util.zip.GZIPOutputStream(
      Files.newOutputStream(batch.resolve("bal_auth/day2.csv.gz")))
    gz.write((header +: rows).mkString("\n").getBytes("UTF-8")); gz.close()
    // weather side: replay the day-1 batch unchanged
    Files.copy(Paths.get(fixture("weather/ghcn.csv.gz")), batch.resolve("weather/ghcn.csv.gz"))
    Files.copy(Paths.get(fixture("weather/locations.csv")), batch.resolve("weather/locations.csv"))

    Pipeline.runEtlIncremental(spark, batch.toString, out)

    // untouched partition survives with its original rows
    assert(bal.filter("bal_auth='PJM' AND year=2021 AND month=1").count() === pjmJanBefore)
    // new partition lands
    assert(bal.filter("bal_auth='PJM' AND year=2021 AND month=2").count() === 1)
    // replayed partition is REPLACED (not appended): batch contents only
    val cisoDec = bal.filter("bal_auth='CISO' AND year=2020 AND month=12")
    assert(cisoDec.count() === 2)
    assert(cisoDec.filter("demand_forecast = 77777").count() === 2)
  }

  test("streaming ETL: daily gz arrivals land incrementally with checkpointed offsets") {
    import java.nio.file.{Files, Paths}
    val in = Files.createTempDirectory("etl_stream_in")
    Files.createDirectories(in.resolve("bal_auth"))
    Files.copy(Paths.get(fixture("bal_auth/eia930.csv.gz")), in.resolve("bal_auth/eia930.csv.gz"))
    val out = Files.createTempDirectory("etl_stream_out").toString

    // run 1: day-1 file only
    Pipeline.runEtlStream(spark, in.toString, out)
    val bal = () => spark.read.parquet(s"$out/bal_auth")
    val day1Rows = bal().count()
    assert(day1Rows > 0)
    val pjmJanBefore = bal().filter("bal_auth='PJM' AND year=2021 AND month=1").count()

    // day-2 file arrives while the query is down: a new PJM month, a new
    // DAY added to the still-open PJM January partition, and a same-key
    // corrected replay of the CISO December 11 PM row
    val header = "Balancing Authority,Region,Data Date,Local Time at End of Hour," +
      "UTC Time at End of Hour,Demand Forecast (MW),Demand (MW) (Adjusted)," +
      "Net Generation (MW) (Adjusted),Net Generation (MW) from Coal," +
      "Net Generation (MW) from Natural Gas,Net Generation (MW) from Nuclear," +
      "Net Generation (MW) from All Petroleum Products," +
      "Net Generation (MW) from Hydropower and Pumped Storage," +
      "Net Generation (MW) from Solar,Net Generation (MW) from Wind," +
      "Net Generation (MW) from Other Fuel Sources," +
      "Net Generation (MW) from Unknown Fuel Sources,Demand (MW)"
    val rows = Seq(
      "PJM,Mid-Atlantic,02/10/2021,02/10/2021 1:00:00 AM,02/10/2021 6:00:00 AM,31250,30980,31500,8000,12000,9000,100,900,300,1000,150,50,31000",
      "PJM,Mid-Atlantic,01/16/2021,01/16/2021 1:00:00 AM,01/16/2021 6:00:00 AM,31100,30900,31400,8000,12000,9000,100,900,300,950,100,50,30900",
      "CISO,CAL,12/31/2020,12/31/2020 11:00:00 PM,01/01/2021 7:00:00 AM,77777,20700,21100,1000,9000,2000,100,3000,4000,1900,80,20,20600")
    val gz = new java.util.zip.GZIPOutputStream(
      Files.newOutputStream(in.resolve("bal_auth/day2.csv.gz")))
    gz.write((header +: rows).mkString("\n").getBytes("UTF-8")); gz.close()

    // run 2 from the same checkpoint: ONLY day-2 processes
    Pipeline.runEtlStream(spark, in.toString, out)
    // a day added to the OPEN January partition merges in — the
    // partition's earlier days survive (the truncation hazard dynamic
    // overwrite alone would have: day-2's batch would wipe Jan 15)
    assert(bal().filter("bal_auth='PJM' AND year=2021 AND month=1").count() === pjmJanBefore + 1)
    assert(bal().filter(
      "bal_auth='PJM' AND year=2021 AND month=1 AND local_time LIKE '01/15/2021%'").count()
      === pjmJanBefore)
    // the new month lands
    assert(bal().filter("bal_auth='PJM' AND year=2021 AND month=2").count() === 1)
    // the same-key replay REPLACES the old row in place (no append-dup)
    val cisoDec = bal().filter("bal_auth='CISO' AND year=2020 AND month=12")
    assert(cisoDec.count() === 1)
    assert(cisoDec.filter("demand_forecast = 77777").count() === 1)
  }

  test("schema evolution: a column added in later partitions reads back with mergeSchema") {
    // the long-lived-table reality at scale: day N+1's writer adds a
    // column; historical partitions never get rewritten. mergeSchema
    // reconciles the footers and back-fills nulls for old partitions.
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("evolve").toString
    Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v")
      .write.parquet(s"$path/day=2024-01-01")
    Seq((3L, 30.0, "beta")).toDF("id", "v", "variant")
      .write.parquet(s"$path/day=2024-01-02")

    val merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert(merged.columns.toSet === Set("id", "v", "variant", "day"))
    val rows = merged.select("id", "variant")
      .as[(Long, Option[String])].collect().sortBy(_._1)
    assert(rows === Array(1L -> None, 2L -> None, 3L -> Some("beta")))
  }

  test("ORC sink/source round-trips with predicate pushdown at the scan") {
    import org.apache.spark.sql.functions._
    // the engine's sinks are format-parameterized by Spark's DataSource
    // API — ORC is the other columnar format a lakehouse ingests; same
    // pushdown/pruning contract as parquet
    val li = graft.Tables.lineitem(spark, "/root/testdata/sf0.001")
    val path = java.nio.file.Files.createTempDirectory("orc_rt").toString + "/li"
    li.write.orc(path)
    val back = spark.read.orc(path)
    assert(back.count() === li.count())
    val a = li.select("l_orderkey", "l_linenumber", "l_quantity")
      .collect().map(_.toString).sorted
    val b = back.select("l_orderkey", "l_linenumber", "l_quantity")
      .collect().map(_.toString).sorted
    assert(a === b)
    val plan = back.filter(col("l_quantity") > 25)
      .select("l_orderkey").queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("l_quantity"),
      s"ORC scan must push the filter:\n$plan")
  }
}

package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's ACTUAL annual workload, demonstrated at its actual
  * scale (SURVEY §6.1): one year of EIA-930 hourly balancing-authority
  * CSVs (66 BAs x 8,760 h = 578,160 rows, the full 18-column export
  * header) and a GHCN-Daily element file set (2,000 stations x 365 days
  * x 6 parameters = 4.38 M rows, of which the 66 location-mapped
  * stations survive the join — the same global-feed-filtered-to-fleet
  * shape as production), generated deterministically as gzipped CSVs,
  * then pushed through the REAL pipeline entry points
  * ([[Pipeline.runEtl]] -> [[graft.qc.Checks]] via [[Pipeline.runQc]])
  * with wall time per phase and a partition-layout audit printed as one
  * JSON line. Results are recorded in BASELINE.md's protocol section.
  *
  * Synthesis keeps the QC invariants true by construction (fuel parts
  * sum to net generation; demand within forecast tolerance) so the run
  * measures the pipeline, not seeded-violation handling (QcSpec covers
  * that); values still vary per (BA, hour) so group-bys and pivots see
  * realistic cardinalities.
  */
object EtlVolume {

  val NumBas = 66
  val HoursPerYear = 8760
  val NumStations = 2000

  private def ba(i: Int): String = f"BA$i%02d"

  /** One year of EIA-930 rows with the contractual header names. */
  def synthEia(spark: SparkSession): DataFrame = {
    val bas = (0 until NumBas).map(ba)
    spark.range(0, HoursPerYear.toLong * NumBas).select(
      col("id"),
      (col("id") % NumBas).as("ba_i"),
      (col("id") / NumBas).as("h"))
      .withColumn("ts",
        expr("timestamp'2021-01-01 01:00:00' + make_interval(0, 0, 0, 0, cast(h as int), 0, 0)"))
      .select(
        element_at(array(bas.map(lit): _*), (col("ba_i") + 1).cast("int"))
          .as("Balancing Authority"),
        concat(lit("Region"), (col("ba_i") % 8).cast("string")).as("Region"),
        date_format(col("ts"), "MM/dd/yyyy").as("Data Date"),
        date_format(col("ts"), "MM/dd/yyyy h:mm:ss a").as("Local Time at End of Hour"),
        date_format(expr("ts + interval 5 hours"), "MM/dd/yyyy h:mm:ss a")
          .as("UTC Time at End of Hour"),
        (lit(20000) + pmod(col("id"), lit(997))).cast("string").as("Demand Forecast (MW)"),
        (lit(20000) + pmod(col("id"), lit(991))).cast("string").as("Demand (MW) (Adjusted)"),
        // nine parts summing exactly to net generation
        (lit(9 * 1000) + pmod(col("id"), lit(100)) * 9).cast("string")
          .as("Net Generation (MW) (Adjusted)"),
        (lit(1000) + pmod(col("id"), lit(100))).cast("string").as("Net Generation (MW) from Coal"),
        (lit(1000) + pmod(col("id"), lit(100))).cast("string").as("Net Generation (MW) from Natural Gas"),
        (lit(1000) + pmod(col("id"), lit(100))).cast("string").as("Net Generation (MW) from Nuclear"),
        (lit(1000) + pmod(col("id"), lit(100))).cast("string").as("Net Generation (MW) from All Petroleum Products"),
        (lit(1000) + pmod(col("id"), lit(100))).cast("string").as("Net Generation (MW) from Hydropower and Pumped Storage"),
        (lit(1000) + pmod(col("id"), lit(100))).cast("string").as("Net Generation (MW) from Solar"),
        (lit(1000) + pmod(col("id"), lit(100))).cast("string").as("Net Generation (MW) from Wind"),
        (lit(1000) + pmod(col("id"), lit(100))).cast("string").as("Net Generation (MW) from Other Fuel Sources"),
        (lit(1000) + pmod(col("id"), lit(100))).cast("string").as("Net Generation (MW) from Unknown Fuel Sources"),
        (lit(19990) + pmod(col("id"), lit(991))).cast("string").as("Demand (MW)"))
  }

  /** A year of GHCN-Daily element rows for [[NumStations]] stations. */
  def synthGhcn(spark: SparkSession): DataFrame = {
    val params = Schemas.ghcnParameters
    spark.range(0, NumStations.toLong * 365 * params.size).select(
      (col("id") % NumStations).as("s"),
      ((col("id") / NumStations) % 365).as("d"),
      (col("id") / (NumStations.toLong * 365)).as("p"),
      col("id"))
      .select(
        format_string("USW%05d", col("s")).as("station_id"),
        date_format(expr("date'2021-01-01' + make_interval(0,0,0,cast(d as int),0,0,0)"),
          "yyyyMMdd").as("date"),
        element_at(array(params.map(lit): _*), (col("p") + 1).cast("int")).as("parameter_id"),
        (pmod(col("id"), lit(600)) - lit(300)).cast("string").as("value"),
        lit("").as("m_flag"), lit("").as("q_flag"), lit("S").as("s_flag"),
        lit("0700").as("time"))
  }

  def writeInputs(spark: SparkSession, inputDir: String): Unit = {
    synthEia(spark).repartition(12)
      .write.mode("overwrite").option("compression", "gzip").option("header", true)
      .csv(s"$inputDir/bal_auth")
    synthGhcn(spark).repartition(16)
      .write.mode("overwrite").option("compression", "gzip")
      .csv(s"$inputDir/weather")
    // csv writer emits .csv.gz part files; the pipeline globs *.gz — and
    // keeps locations.csv (written below) out of the glob by extension.
    val loc = new java.io.PrintWriter(s"$inputDir/weather/locations.csv")
    try {
      loc.println("Stations,Acronym,Name")
      (0 until NumBas).foreach(i => loc.println(f"USW$i%05d,${ba(i)},Station $i"))
    } finally loc.close()
  }

  /** Leaf partition directories under `path` (depth = #partition cols). */
  private def leafDirs(path: String, depth: Int): Seq[String] = {
    def walk(f: java.io.File, d: Int): Seq[java.io.File] =
      if (d == 0) Seq(f)
      else Option(f.listFiles()).getOrElse(Array.empty)
        .filter(c => c.isDirectory && c.getName.contains("=")).toSeq.flatMap(walk(_, d - 1))
    walk(new java.io.File(path), depth).map(_.getPath)
  }

  def main(args: Array[String]): Unit = {
    // deleted when the JVM exits, like the engine's other scratch
    val root = graft.ops.Scratch.jvmRoot(
      System.getProperty("java.io.tmpdir"), "graft_etl_volume").toString
    val in = s"$root/input"; val out = s"$root/output"
    val spark = graft.Harness.session("graft-etl-volume")

    val t0 = System.nanoTime()
    writeInputs(spark, in)
    val tGen = (System.nanoTime() - t0) / 1e9

    val t1 = System.nanoTime()
    Pipeline.runEtl(spark, in, out)
    val tEtl = (System.nanoTime() - t1) / 1e9

    val t2 = System.nanoTime()
    val qc = Pipeline.runQc(spark, out)
    val tQc = (System.nanoTime() - t2) / 1e9

    // layout audit: the partition tree the readback pruning relies on
    val baLeaves = leafDirs(s"$out/bal_auth", 3)
    val timeLeaves = leafDirs(s"$out/time", 2)
    val weatherLeaves = leafDirs(s"$out/weather", 3)
    // 13 (year,month) leaves per BA, not 12: the year's LAST end-of-hour
    // stamp is midnight Jan 1 of the next year (the same boundary
    // semantics EtlSpec pins on its 2020-12 fixture row).
    require(baLeaves.size == NumBas * 13,
      s"bal_auth leaves: ${baLeaves.size} != ${NumBas * 13}")
    require(timeLeaves.size == 13, s"time leaves: ${timeLeaves.size} != 13")
    require(weatherLeaves.size == NumBas * 12,
      s"weather leaves: ${weatherLeaves.size} != ${NumBas * 12}")
    val rows = spark.read.parquet(s"$out/bal_auth").count()
    require(rows == NumBas.toLong * HoursPerYear,
      s"bal_auth rows: $rows != ${NumBas.toLong * HoursPerYear}")
    val qcFailed = qc.count(!_.passed)
    println(f"""{"metric":"etl_volume","unit":"sec","gen":$tGen%.1f,"etl":$tEtl%.1f,"qc":$tQc%.1f,"eia_rows":${NumBas * HoursPerYear},"ghcn_rows":${NumStations * 365 * Schemas.ghcnParameters.size},"ba_partitions":${baLeaves.size},"weather_partitions":${weatherLeaves.size},"qc_failed":$qcFailed}""")
    spark.stop()
  }
}

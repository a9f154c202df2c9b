package graft.etl

import graft.SparkSuite
import org.apache.spark.sql.types.DoubleType

/** Golden-fixture tests for the ETL transforms (FIXTURES.md §A):
  * duplicate EIA rows, a net-generation mismatch, a null bal_auth, a year
  * boundary, dropped GHCN parameters/stations, and pivot nulls.
  */
class EtlSpec extends SparkSuite {

  lazy val eia = Pipeline.readEia(spark, fixture("bal_auth"))
  lazy val ghcn = Pipeline.readGhcn(spark, fixture("weather/ghcn.csv.gz"))
  lazy val locations = Pipeline.readLocations(spark, fixture("weather/locations.csv"))

  test("bal_auth: distinct drops the duplicated EIA row; measures typed double") {
    val t = BalAuth.balAuthTable(eia)
    assert(t.count() === 5) // 6 raw rows, one exact duplicate
    assert(t.schema("net_generation").dataType === DoubleType)
    assert(t.schema("demand").dataType === DoubleType)
    val pjm1am = t.filter("bal_auth = 'PJM' AND local_time = '01/15/2021 1:00:00 AM'").collect()
    assert(pjm1am.length === 1)
    assert(pjm1am.head.getAs[Double]("net_generation") === 31500.0)
    assert(pjm1am.head.getAs[Int]("year") === 2021)
    assert(pjm1am.head.getAs[Int]("month") === 1)
  }

  test("bal_auth: year-boundary row lands in 2020-12") {
    val t = BalAuth.balAuthTable(eia)
    val dec = t.filter("year = 2020 AND month = 12").collect()
    assert(dec.length === 1)
    assert(dec.head.getAs[String]("bal_auth") === "CISO")
  }

  test("time dim: corrected pattern parses single-digit 12-hour times") {
    val t = BalAuth.timeDim(eia).collect().map(r =>
      r.getAs[String]("local_time") ->
        (r.getAs[Int]("hour"), r.getAs[Int]("day"), r.getAs[Int]("month"),
          r.getAs[Int]("year"), r.getAs[Int]("weekday"))).toMap
    assert(t.size === 5) // duplicate local_time collapses
    // 01/15/2021 is a Friday; Spark dayofweek: Sunday=1 -> Friday=6
    assert(t("01/15/2021 1:00:00 AM") === ((1, 15, 1, 2021, 6)))
    // 12-hour clock: 12:00:00 AM is hour 0, 11:00:00 PM is hour 23
    assert(t("01/01/2021 12:00:00 AM")._1 === 0)
    assert(t("12/31/2020 11:00:00 PM")._1 === 23)
  }

  test("weather pivot: max of duplicates, kept params only, semi-join drops unknown station") {
    val p = Weather.pivotedWeather(ghcn, locations)
    assert(!p.columns.contains("AWND"))
    val rows = p.collect().map(r => (r.getAs[String]("station_id"), r.getAs[String]("date")) -> r).toMap
    assert(rows.size === 3) // USW99999999 dropped (not in locations)
    assert(!rows.keys.exists(_._1 == "USW99999999"))
    val nyc = rows(("USW00094728", "20210115"))
    assert(nyc.getAs[Integer]("TMAX") === -20) // max(-27, -20)
    assert(nyc.getAs[Integer]("TMIN") === -60)
    assert(nyc.getAs[Integer]("PRCP") === 5)
    assert(nyc.getAs[Integer]("TAVG") === null) // missing parameter -> null
  }

  test("weather table: bal_auth attached, date parts extracted") {
    val w = Weather(ghcn, locations)
    val byKey = w.collect().map(r => (r.getAs[String]("station_id"), r.getAs[String]("date")) -> r).toMap
    assert(byKey(("USW00094728", "20210115")).getAs[String]("bal_auth") === "PJM")
    assert(byKey(("USW00023174", "20201231")).getAs[String]("bal_auth") === "CISO")
    assert(byKey(("USW00023174", "20201231")).getAs[Int]("year") === 2020)
    assert(byKey(("USW00023174", "20201231")).getAs[Int]("month") === 12)
  }

  test("permissive GHCN audit splits clean rows from malformed raw lines in one scan") {
    import org.apache.spark.sql.functions.col
    val dirTmp = tempDir("ghcn_audit")
    val good1 = "USW00094846,20190101,TMAX,39,,,X,2400"
    val bad = "USW00094847,20190101,TMIN,not_a_number,,,X,2400"
    val good2 = "USW00094848,20190102,TMAX,50,,,X,2400"
    java.nio.file.Files.write(dirTmp.resolve("day.csv"),
      s"$good1\n$bad\n$good2\n".getBytes("UTF-8"))
    val (clean, badRows) = Pipeline.readGhcnAudit(spark, s"$dirTmp/day.csv")
    assert(clean.count() === 2)
    assert(clean.filter(col("value").isNull).count() === 0)
    val lines = badRows.collect().map(_.getString(0))
    assert(lines.length === 1)
    assert(lines.head.contains("not_a_number"))
    // the strict reader on the same file nulls the unparseable value
    val strict = Pipeline.readGhcn(spark, s"$dirTmp/day.csv")
    assert(strict.count() === 3)
    assert(strict.filter(col("value").isNull).count() === 1)
  }
}

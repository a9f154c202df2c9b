package graft.qc

import graft.SparkSuite
import graft.etl.{BalAuth, Pipeline, Weather}
import org.apache.spark.sql.DataFrame

/** QC harness over the seeded-violation fixtures: the fixture data
  * contains a null bal_auth and a net-generation sum mismatch (bal_auth
  * side) and missing TMIN/TMAX parameters (weather side), so those checks
  * must fail and the rest must pass.
  */
class QcSpec extends SparkSuite {

  def registerViews(rows: DataFrame => DataFrame = identity): Unit = {
    val eia = Pipeline.readEia(spark, fixture("bal_auth"))
    rows(BalAuth.balAuthTable(eia)).createOrReplaceTempView("balancing_authorities")
    val ghcn = Pipeline.readGhcn(spark, fixture("weather/ghcn.csv.gz"))
    val locations = Pipeline.readLocations(spark, fixture("weather/locations.csv"))
    rows(Weather(ghcn, locations)).createOrReplaceTempView("weather")
  }

  test("reference checks flag exactly the seeded violations") {
    registerViews()
    val results = Checks.run(spark, Checks.referenceChecks).map(r => r.name -> r).toMap
    assert(results("balancing_authorities_non_empty").passed)
    assert(results("weather_non_empty").passed)
    assert(results("weather.station_id_not_null").passed)
    assert(results("weather.date_not_null").passed)
    // seeded violations:
    assert(!results("balancing_authorities.bal_auth_not_null").passed)
    assert(results("balancing_authorities.bal_auth_not_null").actual === 1)
    assert(!results("net_generation_sum_of_parts").passed)
    assert(results("net_generation_sum_of_parts").actual === 1)
    assert(!results("weather.TMIN_not_null").passed) // stations missing TMIN
    assert(!results("weather.TMAX_not_null").passed) // 20201231 row has no TMAX
  }

  test("error report contains only failures, written via Spark writer") {
    registerViews()
    val results = Checks.run(spark, Checks.referenceChecks)
    val out = java.nio.file.Files.createTempDirectory("qc_report").toString
    Checks.writeErrorReport(spark, results, s"$out/data_quality")
    val report = spark.read.json(s"$out/data_quality")
    assert(report.count() === results.count(!_.passed))
    assert(report.filter("passed = true").count() === 0)
  }

  test("an all-clean table passes every bal_auth check") {
    import spark.implicits._
    val eia = Pipeline.readEia(spark, fixture("bal_auth"))
    BalAuth.balAuthTable(eia)
      .filter($"bal_auth".isNotNull && $"bal_auth" =!= "CISO")
      .createOrReplaceTempView("balancing_authorities")
    val baChecks = Checks.referenceChecks.take(3)
    assert(Checks.run(spark, baChecks).forall(_.passed))
  }

  test("each result's sql, re-run as SQL, equals the actual of the one-aggregate scan") {
    registerViews()
    val results = Checks.run(spark, Checks.referenceChecks)
    assert(results.map(_.name) === Checks.referenceChecks.map(_.name))
    results.foreach { r =>
      assert(spark.sql(r.sql).first().getLong(0) === r.actual, r.sql)
    }
  }

  test("over empty tables only the non-empty checks fail; every other check passes with 0") {
    registerViews(_.limit(0))
    val results = Checks.run(spark, Checks.referenceChecks)
    val (nonEmpty, rest) = results.partition(_.name.endsWith("_non_empty"))
    assert(nonEmpty.map(_.name).toSet ===
      Set("balancing_authorities_non_empty", "weather_non_empty"))
    assert(nonEmpty.forall(r => !r.passed && r.actual == 0L))
    assert(rest.nonEmpty && rest.forall(r => r.passed && r.actual == 0L), rest)
  }

  test("observed QC accumulates counters inside the single materializing job") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .withColumn("maybe_null",
        when(pmod(col("doc_id"), lit(7)) === 0, lit(null).cast("string"))
          .otherwise(col("lang")))
    val checks = Seq(Checks.countRows("docs"),
      Checks.nullChecker("docs", "maybe_null"), Checks.nullChecker("docs", "doc_id"))
    val (observedDf, obs) = Checks.observed(docs, checks)
    // ONE action — the metrics ride along with it, no extra scan
    observedDf.write.format("noop").mode("overwrite").save()
    val Seq(rows, maybeNull, docId) = checks.map(_.observedIn(obs))
    val expectedNulls = docs.filter(col("maybe_null").isNull).count()
    assert(rows.actual === docs.count() && rows.passed)
    assert(maybeNull.actual === expectedNulls && expectedNulls > 0 && !maybeNull.passed)
    assert(docId.actual === 0L && docId.passed)
  }

  test("q_observe metrics riding the write equal a dedicated aggregate pass") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    val dir = "/root/testdata/sf0.001"
    val got = Checks.qObserve(spark, dir).first()
    val ev = graft.Tables.events(spark, dir)
    val exp = ev.agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchases"),
      sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"),
      min(unix_millis(col("ts"))).as("min_ts_ms"),
      max(unix_millis(col("ts"))).as("max_ts_ms")).first()
    assert(got.getLong(0) === exp.getLong(0) && got.getLong(0) > 0)
    assert(got.getLong(1) === exp.getLong(1))
    assert(got.getDouble(2) === exp.getDouble(2))
    assert(got.getLong(3) === exp.getLong(3))
    assert(got.getLong(4) === exp.getLong(4))
  }
}

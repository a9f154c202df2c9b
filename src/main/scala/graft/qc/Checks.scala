package graft.qc

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Declarative data-quality harness (ref: nrg_qc.py data_qc), with the
  * reference's three bugs intent-corrected (SURVEY §4.3):
  *   1. count_rows returned the function object instead of the SQL —
  *      here checks are typed values, not stringly-built;
  *   2. Row-vs-int comparison made every equality check fail — here the
  *      count is read as a Long from the aggregate row;
  *   3. the JSON error report used a driver-local open() on an HDFS URI —
  *      here the report is written through the Spark writer, so any
  *      Hadoop-supported filesystem works.
  */
object Checks {

  /** One declarative assertion over `table`: count the rows matching
    * `violation` (a SQL boolean fragment; `None` counts every row) and
    * compare that count against `expected` (equals when `expectEqual`,
    * not-equals otherwise — the reference's equal_flag=False rows assert
    * "row count must NOT be 0"). The report's [[sql]] and the evaluated
    * [[counted]] Column are both derived from this one declaration.
    */
  final case class Check(
      name: String, table: String, violation: Option[String],
      expectEqual: Boolean, expected: Long) {

    /** The check as the reference writes it, for the error report. */
    def sql: String = s"SELECT COUNT(*) FROM $table" + violation.fold("")(p => s" WHERE $p")

    /** The violation count as an aggregate Column: 0 over an empty
      * table, and a row whose predicate is null is not counted (as the
      * SQL form's WHERE drops it).
      */
    def counted: Column = violation.fold(count(lit(1)))(p => count_if(expr(p))).as(name)

    /** Shared by the one-aggregate scan [[run]] and the observed path
      * [[observed]], so pass/fail semantics cannot diverge.
      */
    def result(actual: Long): CheckResult =
      CheckResult(name, sql, expectEqual, expected, actual,
        if (expectEqual) actual == expected else actual != expected)

    /** This check's result from an [[observed]] frame's `Observation`
      * (blocks until the observed action has run).
      */
    def observedIn(obs: Observation): CheckResult =
      result(obs.get(name).asInstanceOf[Long])
  }

  final case class CheckResult(
      name: String, sql: String, expectEqual: Boolean,
      expected: Long, actual: Long, passed: Boolean)

  def nullChecker(table: String, column: String): Check =
    Check(s"${table}.${column}_not_null", table, Some(s"`$column` IS NULL"),
      expectEqual = true, expected = 0L)

  def countRows(table: String): Check =
    Check(s"${table}_non_empty", table, None, expectEqual = false, expected = 0L)

  /** Cross-column invariant: total net generation equals the sum of its
    * nine fuel-type parts (ref net_gen_qc). Measures are typed double at
    * ingest, so the comparison is numeric, not string (SURVEY §4.3.5).
    */
  val netGenConsistency: Check = {
    val parts = Seq("coal", "nat_gas", "nuclear", "petro", "hydro", "solar",
      "wind", "other", "unknown").map(f => s"net_generation_$f")
    Check("net_generation_sum_of_parts", "balancing_authorities",
      Some(s"abs(net_generation - (${parts.mkString(" + ")})) > 1e-6"),
      expectEqual = true, expected = 0L)
  }

  /** The reference's 8 checks over the two output tables (nrg_qc.py:27-34). */
  val referenceChecks: Seq[Check] = Seq(
    countRows("balancing_authorities"),
    nullChecker("balancing_authorities", "bal_auth"),
    netGenConsistency,
    countRows("weather"),
    nullChecker("weather", "station_id"),
    nullChecker("weather", "date"),
    nullChecker("weather", "TMIN"),
    nullChecker("weather", "TMAX"))

  /** Evaluates `checks` with ONE aggregate per table (the reference, and
    * a per-check query, scan each table once per check); results come
    * back in the order of `checks`.
    */
  def run(spark: SparkSession, checks: Seq[Check]): Seq[CheckResult] = {
    val actual = checks.groupBy(_.table).flatMap { case (table, cs) =>
      val row = spark.table(table).agg(cs.head.counted, cs.tail.map(_.counted): _*).first()
      cs.zipWithIndex.map { case (c, i) => c -> row.getLong(i) }
    }
    checks.map(c => c.result(actual(c)))
  }

  /** Error report: failures only, one JSON object per line, written via
    * the Spark writer (S6 intent-fixed — works on hdfs/s3a/local alike).
    */
  def writeErrorReport(spark: SparkSession, results: Seq[CheckResult], path: String): Unit = {
    import spark.implicits._
    spark.createDataset(results.filterNot(_.passed))
      .coalesce(1)
      .write.mode("overwrite").json(path)
  }

  /** ZERO-EXTRA-PASS QC via `Dataset.observe`: the [[Check.counted]]
    * Columns of `checks` are accumulated INSIDE whatever job
    * materializes the frame (the ETL write itself), so at 100 TB the
    * quality counters cost nothing beyond the write that was happening
    * anyway — where the reference's QC (and [[run]]) reads the output back.
    * Call, run exactly one action on the returned frame, then read each
    * check's result with [[Check.observedIn]].
    */
  def observed(df: DataFrame, checks: Seq[Check]): (DataFrame, Observation) = {
    val obs = Observation()
    (df.observe(obs, checks.head.counted, checks.tail.map(_.counted): _*), obs)
  }

  /** [[observed]] surfaced on the driver contract: richer profile
    * metrics (row count, conditional count, exact DECIMAL money sum,
    * ts range) accumulated inside a REAL parquet write of the events
    * table — one scan total — then emitted as a 1-row frame. The oracle
    * is the plain dedicated-pass aggregate, so the hash check proves
    * the piggy-backed counters equal what a second scan would have
    * computed. Money discipline per Parity: DECIMAL(18,2) sum, cast to
    * double only at the end.
    */
  def qObserve(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val ev = graft.Tables.events(spark, dir)
    val obs = Observation()
    val outPath = java.nio.file.Files.createTempDirectory("graft_observe")
    // the write exists only to drive the observed scan; remove its
    // output afterwards so repeated bench/oracle invocations of this
    // registered query don't accrete a table copy per run
    val m = try {
      ev.observe(obs,
          count(lit(1)).as("n_rows"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchases"),
          sum(col("value").cast(DecimalType(18, 2))).as("sum_value_dec"),
          min(unix_millis(col("ts"))).as("min_ts_ms"),
          max(unix_millis(col("ts"))).as("max_ts_ms"))
        .write.mode("overwrite").parquet(outPath.toString)
      obs.get
    } finally {
      org.apache.spark.network.util.JavaUtils.deleteRecursively(outPath.toFile)
    }
    import spark.implicits._
    // sum/min/max aggregate to NULL over an empty table — carry the
    // nulls through (the oracle's dedicated pass returns the same row
    // of NULLs) instead of NPE-ing on the cast
    Seq((
      m("n_rows").asInstanceOf[Long],
      Option(m("n_purchases")).map(_.asInstanceOf[Long]),
      Option(m("sum_value_dec")).map(_.asInstanceOf[java.math.BigDecimal].doubleValue()),
      Option(m("min_ts_ms")).map(_.asInstanceOf[Long]),
      Option(m("max_ts_ms")).map(_.asInstanceOf[Long]),
    )).toDF("n_rows", "n_purchases", "sum_value", "min_ts_ms", "max_ts_ms")
  }
}

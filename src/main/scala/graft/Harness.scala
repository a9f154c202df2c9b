package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

/** The one harness layer under the mains (Bench, Probe, Explain,
  * ScaleBench, Verify, etl.EtlVolume): how a harness session is built,
  * how an entry is timed and what its failure records, which entries a
  * dev-loop run selects, the warmup, and the sanitised plan text.
  */
object Harness {

  /** A main's session: [[GraftSession.local]] (`local[cpus]`, cpus
    * partitions) with WARN logging. The f"" interpolators the mains
    * render JSON with delegate to String.format in the DEFAULT locale,
    * so the locale is pinned first: a comma-decimal locale would emit
    * invalid JSON ("value":1,23).
    */
  def session(app: String): SparkSession = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val spark = GraftSession.local(app)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** One timed entry: construct seconds (building the frame, including
    * any eager jobs the query function runs), exec seconds (the sink),
    * and the JSON-safe error if it failed. */
  case class Run(name: String, construct: Double, exec: Double, error: Option[String]) {
    def seconds: Double = construct + exec
  }

  /** Times `query` into the noop sink. GC runs outside the timer:
    * broadcast/shuffle cleanup is GC-triggered in Spark, so without it
    * a heavy query's garbage is collected inside some later entry's
    * window. The noop sink, not count(): count() lets Catalyst prune
    * projections and drop sorts, so scan-shaped queries would time less
    * work than the declared query; noop materializes every output row.
    * Every Throwable becomes the entry's recorded error, never a
    * rethrow: a failing entry must not read as a fast one, and it must
    * not end the run.
    */
  def run(name: String)(query: => DataFrame): Run = {
    System.gc()
    measure(name)(query)(_.write.format("noop").mode("overwrite").save())
  }

  /** `body` timed as one driver-side step (a fixture stage): all its
    * seconds are construct; its error is recorded like [[run]]'s. */
  def attempt(name: String)(body: => Any): Run = measure(name)(body)(_ => ())

  private def measure[T](name: String)(build: => T)(sink: T => Unit): Run = {
    val t0 = System.nanoTime()
    var t1 = Long.MinValue
    val error =
      try { val v = build; t1 = System.nanoTime(); sink(v); None }
      catch { case e: Throwable => Some(jsonSafe(e.toString)) }
    val t2 = System.nanoTime()
    if (t1 == Long.MinValue) t1 = t2
    Run(name, (t1 - t0) / 1e9, (t2 - t1) / 1e9, error)
  }

  /** Dev loop: `SPARK_GRAFT_ONLY=q1,q2` restricts a main to a subset of
    * its entries (unset: all of them). */
  val only: Option[Set[String]] =
    sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)

  def selected(name: String): Boolean = only.forall(_(name))

  /** The queries [[warmup]] runs unless told otherwise: scan+agg, native
    * expressions, a shuffle join, and the generate+window codegen paths
    * (explode, group-limit). */
  val warmQueries: Seq[String] =
    Seq("q_agg", "text_quality", "dedup_minhash", "q_tfidf", "q_window_topk")

  /** JVM warmup on the smallest SF (`sf0.001` beside `sfDir`, else
    * `sfDir` itself): classloading, parquet reader init and the codegen
    * compiler otherwise land on whichever entry runs first (~4-6 s of
    * non-query cost attributed to it). Untimed by the caller; names
    * that are not driver queries are skipped. A failed warm query is
    * returned with its error, like a failed fixture stage.
    */
  def warmup(spark: SparkSession, sfDir: String,
      names: Seq[String] = warmQueries): Seq[Run] = {
    val warm = new java.io.File(new java.io.File(sfDir).getAbsoluteFile.getParentFile, "sf0.001")
    val warmDir = if (warm.isDirectory) warm.toString else sfDir
    names.flatMap(q => SparkEntry.queries.get(q).map(q -> _))
      .map { case (q, fn) => run(q)(fn(spark, warmDir)) }
  }

  /** `explain("formatted")` as plain text: giant binary literals (e.g.
    * the bloom filter in might_contain) are elided, and control chars
    * that reference-object toStrings carry (e.g. the BPE ranks map's
    * NUL key separator) are spelled `\0`.
    */
  def planText(df: DataFrame): String =
    df.queryExecution.explainString(FormattedMode).trim
      .replaceAll("0x[0-9A-Fa-f]{64}[0-9A-Fa-f]+", "0x<binary literal elided>")
      .replaceAll("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]", "\\\\0")

  /** `s` cut to 160 chars with everything JSON would escape blanked
    * (quotes, backslashes, ALL control chars — stack traces carry tabs).
    */
  def jsonSafe(s: String): String =
    s.replaceAll("[\"\\\\\\p{Cntrl}]", " ").take(160)
}

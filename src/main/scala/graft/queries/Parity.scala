package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Parity operator surface — every relational operator the reference
  * executes (SURVEY.md §2), re-expressed over the shared test tables.
  *
  * Conventions for oracle (DuckDB) hash-parity:
  *   - every result carries a total-order sort key (driver compare needs
  *     deterministic row order);
  *   - money arithmetic is done in DECIMAL(18,2) (exact, engine-agnostic)
  *     instead of double (FP sums are association-order-dependent);
  *   - date-part columns are INT on both sides (DuckDB EXTRACT returns
  *     BIGINT, so the oracle SQL casts).
  *
  * Scale notes are per-query; all joins against dimension tables broadcast
  * explicitly so the plan at 100 TB is a BroadcastHashJoin, not a shuffle.
  */
object Parity {

  /** A1 — global COUNT(*) (ref: nrg_sql_queries.py:58-60). */
  def qCount(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir).agg(count(lit(1)).as("n"))

  /** P1 — projection + rename of a wide fact table
    * (ref: nrg_sql_queries.py:3-18, the 17-column EIA header rename).
    * Column pruning reaches the parquet scan: only 5 of 11 cols are read.
    */
  def qProjRename(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(
        col("l_orderkey").as("order_key"),
        col("l_linenumber").as("line_no"),
        col("l_quantity").as("qty"),
        col("l_extendedprice").as("price"),
        col("l_returnflag").as("flag"))
      .orderBy("order_key", "line_no")

  /** A4 + F1 + F4 — SELECT DISTINCT projection with date-part extraction
    * (ref: nrg_sql_queries.py:1-22 bal_auth table). Distinct is a
    * partial+final HashAggregate; low-cardinality output so the final
    * exchange is tiny at any scale.
    */
  def qDistinctExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(
        col("o_orderstatus").as("status"),
        col("o_orderpriority").as("priority"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"))
      .distinct()
      .orderBy("status", "priority", "yr", "mo")

  /** F3 + F5 + A4 — time dimension: six date parts + distinct
    * (ref: nrg_sql_queries.py:34-44; the reference's Postgres-style
    * timestamp pattern is invalid — SURVEY §4.3.4 — we implement the
    * intent: parse once, extract parts).
    * Spark dayofweek is 1=Sunday..7=Saturday; the oracle adjusts DuckDB's
    * 0=Sunday..6 to match.
    */
  def qTimeDim(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(
        hour(col("ts")).as("hr"),
        dayofmonth(col("ts")).as("dom"),
        weekofyear(col("ts")).as("wk"),
        month(col("ts")).as("mo"),
        year(col("ts")).as("yr"),
        dayofweek(col("ts")).as("dow"))
      .distinct()
      .orderBy("yr", "mo", "dom", "hr", "wk", "dow")

  /** A3 — groupBy + pivot with an explicit value list + max
    * (ref: nrg_etl.py:61-65, GHCN parameter pivot). The explicit value
    * list keeps pivot a single HashAggregate pass (no distinct-values
    * pre-job) — the only safe form at scale.
    */
  val pivotValues: Seq[String] = Seq("click", "error", "purchase", "signup", "view")
  def qPivot(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"), to_date(col("ts")).as("event_date"))
      .pivot("event_type", pivotValues)
      .max("value")
      .orderBy("user_id", "event_date")

  /** J1 — LEFT OUTER equi-join, small dimension broadcast
    * (ref: nrg_sql_queries.py:24-32, weather ⟕ locations).
    */
  def qLeftJoin(spark: SparkSession, dir: String): DataFrame = {
    val nation = Tables.nation(spark, dir)
    val region = Tables.region(spark, dir)
    nation
      .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"), "left_outer")
      .select(nation("n_nationkey"), nation("n_name"), region("r_name"))
      .orderBy("n_nationkey")
  }

  /** Flagship aggregation — TPC-H Q1 shape: scan → filter → partial/final
    * HashAggregate over 2 grouping cols. Money sums in DECIMAL(18,2) for
    * exact, engine-independent arithmetic; qty is integer-valued so its
    * double sum is exact too.
    */
  def qAgg(spark: SparkSession, dir: String): DataFrame = {
    val d = DecimalType(18, 2)
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        sum(col("l_extendedprice").cast(d)).cast("double").as("sum_base_price"),
        sum(col("l_extendedprice").cast(d) * (lit(1).cast(d) - col("l_discount").cast(d)))
          .cast("double").as("sum_disc_price"),
        round(avg(col("l_quantity")), 2).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** J2 — semi-join replacing the reference's collect()+isin anti-pattern
    * (ref: nrg_etl.py:47,62). A broadcast left-semi join has identical
    * semantics with no driver round-trip, so it scales past driver memory.
    */
  def qSemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val bigParts = Tables.part(spark, dir).filter(col("p_size") > 25).select("p_partkey")
    li.join(broadcast(bigParts), li("l_partkey") === bigParts("p_partkey"), "left_semi")
      .select("l_orderkey", "l_linenumber", "l_partkey")
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** A2 / P5 — per-column null counters over a frame that actually has
    * nulls (the pivot output; ref: nrg_sql_queries.py:48-54 null_checker).
    * count(*) - count(col) is the distributed null counter: partial
    * aggregation makes it one tiny exchange regardless of input size.
    */
  def qNullCount(spark: SparkSession, dir: String): DataFrame = {
    val pivoted = qPivot(spark, dir)
    pivoted.agg(
      (count(lit(1)) - count(col("click"))).as("click_nulls"),
      (count(lit(1)) - count(col("error"))).as("error_nulls"),
      (count(lit(1)) - count(col("purchase"))).as("purchase_nulls"),
      (count(lit(1)) - count(col("signup"))).as("signup_nulls"),
      (count(lit(1)) - count(col("view"))).as("view_nulls"))
  }

  /** Anti-join (NOT EXISTS) — dimension members with no facts. Spark's
    * left_anti is the distributed form; broadcast keeps it shuffle-free.
    */
  def qAntiJoin(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val ords = Tables.orders(spark, dir).select("o_custkey")
    cust.join(ords, cust("c_custkey") === ords("o_custkey"), "left_anti")
      .agg(count(lit(1)).as("n_customers_without_orders"))
  }

  /** A5 + P6 + Q1 — row-wise sum of parts compared against a total inside
    * a derived table (ref: nrg_sql_queries.py:63-72, the net-generation
    * consistency check). Left-to-right FP addition is deterministic and
    * identical across engines, so the inequality count is exact.
    */
  def qSumParts(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(
        col("l_extendedprice"),
        (col("l_quantity") + col("l_discount") + col("l_tax")).as("sum_of_parts"))
      .filter(col("l_extendedprice") =!= col("sum_of_parts"))
      .agg(count(lit(1)).as("n_mismatch"))

  /** §2.8 demo — ranked window (top-3 orders per customer by price).
    * row_number over (partition, order with unique tiebreak) is fully
    * deterministic; WindowExec shuffles once on the partition key.
    */
  def qWindowTopk(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
      .orderBy("o_custkey", "rn")
  }

  /** §2.8 demo — global top-k: ORDER BY + LIMIT lowers to
    * TakeOrderedAndProject (per-partition heap + driver merge, no full
    * sort) — the scalable form of top-k.
    */
  def qTopkGlobal(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(100)

  /** §2.8 demo — set operations (INTERSECT/EXCEPT are distinct-semantics
    * in both Spark and DuckDB; each lowers to a hash aggregate + join).
    */
  def qSetOps(spark: SparkSession, dir: String): DataFrame = {
    val custNations = Tables.customer(spark, dir).select(col("c_nationkey").as("k"))
    val suppNations = Tables.supplier(spark, dir).select(col("s_nationkey").as("k"))
    custNations.intersect(suppNations)
      .union(custNations.except(suppNations))
      .distinct()
      .orderBy("k")
  }

  /** §2.11 nested data — JSON property extraction from the events stream
    * (the reference has no JSON ops; this is the `props` column of the
    * extension surface). get_json_object is codegen'd; at scale prefer
    * from_json with an explicit schema so the parse happens once.
    */
  def qJsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .orderBy("event_id")

  /** F1/F4 intent — string→date parsing with the reference's EIA pattern
    * (MM/dd/yyyy; ref: nrg_sql_queries.py:19-20). The testdata has no
    * string dates, so we round-trip: format then parse, proving the
    * pattern semantics cross-engine.
    */
  def qParseDate(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(
        col("o_orderkey"),
        to_date(date_format(col("o_orderdate"), "MM/dd/yyyy"), "MM/dd/yyyy").as("d"))
      .orderBy("o_orderkey")

  /** A3⁻¹ — unpivot (melt): wide→long reshape of the pivoted events
    * table, the inverse of q_pivot. Null cells are dropped on both sides
    * (DuckDB UNPIVOT semantics). Unpivot is a per-row Expand — no
    * shuffle beyond the pivot's own aggregation.
    */
  def qUnpivot(spark: SparkSession, dir: String): DataFrame =
    qPivot(spark, dir)
      .unpivot(
        Array(col("user_id"), col("event_date")),
        pivotValues.map(col).toArray,
        "event_type", "max_value")
      .filter(col("max_value").isNotNull)
      .orderBy("user_id", "event_date", "event_type")

  /** Multi-level aggregation: ROLLUP over (flag, status) — subtotal rows
    * carry nulls; at scale this is still one pass (Expand + partial agg).
    */
  def qRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** CUBE over (status, priority-year): all grouping-set combinations. */
  def qCube(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .cube(col("o_orderstatus"), year(col("o_orderdate")).as("yr"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("yr").asc_nulls_first)

  /** Exact interpolated percentiles per group (quantity is integer-valued
    * so the interpolation is engine-stable).
    */
  def qPercentile(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        round(expr("percentile(l_quantity, 0.5)"), 4).as("q50"),
        round(expr("percentile(l_quantity, 0.95)"), 4).as("q95"))
      .orderBy("l_returnflag")

  /** Approximate sketches — the 100 TB counting path: distinct counts
    * and percentiles as one-pass, fixed-memory, MERGEABLE summaries.
    * Both halves are DETERMINISTIC cross-engine sketches, so the DuckDB
    * oracle recomputes them exactly and the check is hash-green —
    * unlike Spark's built-in approx_count_distinct/percentile_approx
    * (this query's first form), whose HLL++/QuantileSummaries internals
    * are engine-private and admit only a rows-only check:
    *  - approx_parts: the [[graft.functions.Hll]] register sketch over
    *    l_partkey (splitmix64-hashed keys, 4096 elementwise-max
    *    registers — the machinery q_hll_union proves merge-exact);
    *    ~1.6% standard error, same class as approx_count_distinct.
    *  - approx_median_price: a fixed-width histogram quantile — exact
    *    integer cents (the DECIMAL(18,2) money discipline) bucketed at
    *    $100, cumulative counts cross rank (n+1)/2 at the median
    *    bucket, whose $-midpoint is returned. One partial-aggregable
    *    groupBy plus a window over ~1k buckets per flag; histograms
    *    merge by adding counts, so the sketch-warehouse rollup story
    *    applies unchanged. Max error $50 (<0.2% at these prices).
    * ParitySpec bounds both halves against the exact aggregates and
    * pins them across partitionings.
    */
  def qApproxSketch(spark: SparkSession, dir: String): DataFrame =
    approxSketch(Tables.lineitem(spark, dir))

  /** The sketch core over any lineitem-shaped frame — ParitySpec feeds
    * repartitioned variants through this to prove both halves are
    * partition-invariant (register max and histogram counts are
    * commutative/associative merges; GK/QuantileSummaries, which this
    * replaced, is not).
    */
  def approxSketch(li: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.Hll
    val est = li.groupBy(col("l_returnflag"))
      .agg(Hll.regAgg(col("l_partkey")).as("sk"))
      .select(col("l_returnflag"), Hll.estimate(col("sk")).as("approx_parts"))
    val hist = li
      .select(col("l_returnflag"),
        (col("l_extendedprice").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"))
      .select(col("l_returnflag"), expr("cents div 10000").as("bucket"))
      .groupBy(col("l_returnflag"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
    val med = histMedianBucket(hist, "l_returnflag")
      .select(col("l_returnflag"),
        (col("mb") * 100 + 50).cast("double").as("approx_median_price"))
    est.join(med, Seq("l_returnflag")).orderBy("l_returnflag")
  }

  /** Lower-median bucket per group of a (grp, bucket, cnt) histogram:
    * the minimum bucket whose cumulative count reaches rank (n+1)/2 —
    * exact integer arithmetic throughout, so both engines agree
    * bit-for-bit. Output: (grp, n_values, mb). Buckets are unique per
    * group, so the default RANGE cumulative frame equals ROWS on both
    * engines. The ONE rank rule behind [[approxSketch]] and
    * [[qHistView]].
    */
  private[graft] def histMedianBucket(hist: DataFrame, grp: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wCum = Window.partitionBy(grp).orderBy("bucket")
    val wAll = Window.partitionBy(grp)
    hist
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(wAll))
      .filter(col("cum") >= expr("(n + 1) div 2"))
      .groupBy(col(grp))
      .agg(max(col("n")).as("n_values"), min(col("bucket")).as("mb"))
  }

  /** Histogram-sketch MERGEABILITY — the quantile half of the
    * sketch-warehouse pattern whose distinct-count half is
    * [[qHllUnion]]: per-scope fixed-width histograms (here $5 buckets
    * of the event value in exact integer cents) are stored once, and
    * ANY rollup — type→ALL, day→month, shard→corpus — is plain count
    * addition over the bucket key, so quantile queries over arbitrary
    * unions never rescan raw data. Output: one row per event type
    * (median from its own histogram, plus the exact lower median for
    * error visibility) and an ALL row whose median derives ONLY from
    * MERGING the per-type histograms. The DuckDB oracle computes the
    * ALL scope directly from raw rows, so hash-green PROVES
    * merge-of-histograms = histogram-of-union as implemented — the
    * same proof shape as qHllUnion. At 100 TB the sketch size is
    * bounded by value-range/width per scope regardless of row count,
    * and every step is partial-aggregable.
    */
  def qHistView(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).filter(col("value").isNotNull)
      .select(col("event_type"),
        (col("value").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"))
    // the STORED sketch: per-type $5-bucket counts (localCheckpointed —
    // the ALL row below must derive from these counts, not raw rows)
    val sketch = ev.select(col("event_type"), expr("cents div 500").as("bucket"))
      .groupBy(col("event_type"), col("bucket")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    def dollars(bucketMid: Column): Column = bucketMid.cast("double") / 100
    val perType = histMedianBucket(sketch, "event_type")
      .select(col("event_type").as("scope"), col("n_values"),
        dollars(col("mb") * 500 + 250).as("approx_median"))
    val merged = sketch.groupBy(col("bucket")).agg(sum(col("cnt")).as("cnt"))
      .select(lit("ALL").as("scope"), col("bucket"), col("cnt"))
    val allRow = histMedianBucket(merged, "scope")
      .select(col("scope"), col("n_values"),
        dollars(col("mb") * 500 + 250).as("approx_median"))
    // exact lower medians (cents-granularity rank rule) ride along so
    // the bucket error is visible in the result itself. ONE cents
    // histogram serves both scopes: the ALL branch merges its bounded
    // counts instead of rescanning raw rows — the same discipline as
    // the $5 sketch above, so the raw table is scanned once per
    // granularity, not once per scope
    val centsHist = ev.groupBy(col("event_type"), col("cents"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val exact = centsHist
      .select(col("event_type").as("scope"), col("cents").as("bucket"), col("cnt"))
      .unionByName(centsHist.groupBy(col("cents").as("bucket"))
        .agg(sum(col("cnt")).as("cnt"))
        .select(lit("ALL").as("scope"), col("bucket"), col("cnt")))
    val exactMed = histMedianBucket(exact, "scope")
      .select(col("scope"), dollars(col("mb")).as("exact_median"))
    perType.unionByName(allRow).join(exactMed, Seq("scope")).orderBy("scope")
  }

  /** HLL sketch MERGEABILITY — the property that makes approximate
    * distinct counting distributable: per-group register arrays
    * ([[graft.functions.HllRegAgg]], the deterministic cross-engine HLL
    * of [[graft.functions.HllSketch]]) union by elementwise max
    * ([[graft.functions.HllRegMergeAgg]]) into exactly the sketch of
    * the union, so pre-aggregated per-partition / per-day / per-source
    * sketches can be stored as columns and rolled up later WITHOUT
    * rescanning raw data — the sketch-warehouse pattern at 100 TB.
    * Output: one row per event type (estimate vs exact) plus the ALL
    * row whose estimate comes from MERGING the per-type sketches, never
    * from re-scanning. The DuckDB oracle recomputes registers and
    * estimates exactly — and because the oracle aggregates RAW rows
    * while this query merges pre-built sketches, hash-green PROVES
    * union-of-sketches = sketch-of-union (the engine-specific
    * Datasketches HLL this replaced had no such oracle). ParitySpec
    * additionally asserts merge == direct-global sketch bit-exactly and
    * bounds the estimate error.
    */
  def qHllUnion(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Hll
    val ev = Tables.events(spark, dir)
    val perType = ev.groupBy(col("event_type"))
      .agg(Hll.regAgg(col("user_id")).as("sk"),
        countDistinct(col("user_id")).as("n_exact"))
      .localCheckpoint()
    val parts = perType.select(col("event_type").as("scope"),
      Hll.estimate(col("sk")).as("est_users"), col("n_exact"))
    val exactAll = ev.agg(countDistinct(col("user_id")).as("n_exact"))
    val merged = perType.agg(Hll.mergeAgg(col("sk")).as("sku"))
      .crossJoin(broadcast(exactAll))
      .select(lit("ALL").as("scope"),
        Hll.estimate(col("sku")).as("est_users"), col("n_exact"))
    parts.unionByName(merged).orderBy("scope")
  }

  /** Exact distinct counting per group (two-phase: partial distinct then
    * final; the approximate 100 TB path is the deterministic HLL of
    * [[qHllUnion]], itself oracle-checked register-for-register).
    */
  def qCountDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"))
      .orderBy("l_returnflag")

  /** FULL OUTER equi-join — per-nation customer vs supplier counts with
    * deliberately asymmetric filters so both null-padded sides occur.
    * Both inputs pre-aggregate before the join (≤25 rows each), so at any
    * scale the join itself is trivial; the aggregations are the usual
    * partial/final two-phase.
    */
  def qFullJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).filter(col("c_nationkey") >= 5)
      .groupBy(col("c_nationkey").as("ck")).agg(count(lit(1)).as("n_cust"))
    val s = Tables.supplier(spark, dir).filter(col("s_nationkey") < 20)
      .groupBy(col("s_nationkey").as("sk")).agg(count(lit(1)).as("n_supp"))
    c.join(s, c("ck") === s("sk"), "full_outer")
      .select(
        coalesce(c("ck"), s("sk")).as("nation"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"))
      .orderBy("nation")
  }

  /** Correlated EXISTS subquery — Catalyst decorrelates it into a
    * left-semi join (no per-row subquery execution), which is the only
    * shape that scales; expressed in SQL over the registered views to
    * exercise the SQL front door.
    */
  def qExistsSubquery(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(
      """SELECT o_orderkey, o_totalprice FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49)
        |ORDER BY o_orderkey""".stripMargin)
  }

  /** Uncorrelated scalar subquery as a filter threshold. The subquery
    * computes max (exact, order-independent) rather than avg, whose
    * partial-sum association order differs across engines and could flip
    * borderline rows; prices pass through unarithmetic'd so the hash
    * compare is bit-exact.
    */
  def qScalarSubquery(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > 0.9 * (SELECT max(o_totalprice) FROM orders)
        |ORDER BY o_orderkey""".stripMargin)
  }

  /** Explicit GROUPING SETS (the general form rollup/cube specialize):
    * still one pass — Expand replicates each row per set, then the usual
    * partial/final aggregation.
    */
  def qGroupingSets(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(
      """SELECT l_returnflag, l_linestatus, count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
        |                        (l_returnflag, l_linestatus))
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)
  }

  /** posexplode — the ordinal-preserving generator (LATERAL VIEW
    * surface); the explode fan-out happens map-side, no shuffle.
    */
  def qPosexplode(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("doc_id") < 50)
      .select(col("doc_id"),
        posexplode(graft.functions.TextFns.tokens(col("text"))).as(Seq("pos", "token")))
      .orderBy("doc_id", "pos")

  /** Event-time RANGE window frame: per event, the count and sum of the
    * same user's events in the preceding hour (inclusive). RANGE frames
    * include peer rows, so the result is deterministic even with
    * duplicate timestamps — no tie-break needed. The sum runs in
    * DECIMAL (exact, association-order-free): Spark rebuilds sliding
    * frames sequentially while DuckDB uses segment-tree aggregation, so
    * a double sum could differ in the last ulp between engines.
    *
    * At scale this is the standard "feature within trailing window"
    * shape: one shuffle on user_id, frames computed in a single sorted
    * pass per partition with bounded memory.
    */
  def qWindowRange(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("t_ms"))
      .rangeBetween(-3600000L, Window.currentRow)
    Tables.events(spark, dir)
      .withColumn("t_ms", unix_millis(col("ts")))
      .withColumn("n_1h", count(lit(1)).over(w).cast("int"))
      .withColumn("sum_1h",
        sum(col("value").cast(DecimalType(18, 6))).over(w).cast("double"))
      .select("event_id", "user_id", "n_1h", "sum_1h")
      .orderBy("event_id")
  }

  /** String scalar-function battery (F-family breadth): fourteen
    * distinct string primitives in one projection over the customer dim
    * — every one is a codegen'd built-in fused into the scan (a pure
    * map; zero shuffles besides the output sort). Functions chosen for
    * exact cross-engine semantics (instr==strpos 1-based/0-absent,
    * levenshtein, translate, lpad digit-padding).
    */
  def qStringFns(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select(
        col("c_custkey"),
        upper(col("c_mktsegment")).as("seg_up"),
        lower(col("c_name")).as("name_lo"),
        substring(col("c_name"), 10, 5).as("sub5"),
        concat_ws("-", col("c_mktsegment"), col("c_custkey").cast("string")).as("joined"),
        lpad(col("c_custkey").cast("string"), 8, "0").as("padded"),
        expr("replace(c_name, 'Customer', 'Cust')").as("repl"),
        reverse(col("c_mktsegment")).as("rev"),
        length(col("c_name")).as("len"),
        instr(col("c_name"), "#").as("pos"),
        expr("left(c_name, 4)").as("l4"),
        expr("right(c_name, 3)").as("r3"),
        repeat(substring(col("c_mktsegment"), 1, 1), 3).as("rpt"),
        translate(col("c_mktsegment"), "AEIOU", "aeiou").as("transl"),
        levenshtein(col("c_mktsegment"), lit("MACHINERY")).as("lev"))
      .orderBy("c_custkey")

  /** Date/time scalar-function battery: quarter, day-of-year,
    * month-arithmetic with end-of-month clamping, day difference,
    * last-day-of-month, month truncation, and formatting — the date
    * dimension toolkit, all fused into the scan.
    */
  def qDateFns(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(
        col("o_orderkey"),
        quarter(col("o_orderdate")).as("qtr"),
        dayofyear(col("o_orderdate")).as("doy"),
        add_months(col("o_orderdate").cast("date"), 3).as("plus3m"),
        datediff(lit("2002-01-01").cast("date"), col("o_orderdate").cast("date")).as("days_to"),
        last_day(col("o_orderdate").cast("date")).as("eom"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
      .orderBy("o_orderkey")

  /** Full analytic-window battery in ONE pass: lag/lead neighbors,
    * percent_rank, cume_dist, and the DECIMAL running total, all over
    * the SAME (partition, order) spec — Spark computes every function in
    * a single sorted pass after one exchange on the partition key; a
    * second window spec would double the sort. percent_rank/cume_dist
    * ship unrounded: both engines evaluate the same small-int rationals
    * in double, bit-equal (rounding would CREATE decimal-half ties —
    * the q_anomaly lesson).
    */
  def qWindowAnalytics(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = DecimalType(18, 2)
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .select(
        col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"),
        sum(col("o_totalprice").cast(d)).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double").as("running_total"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Funnel conversion: per user, how many purchases happened within an
    * hour of one of their views. The time bound makes the join an
    * interval join on an equi key: it hash-joins on user_id with the
    * window as a residual predicate — at scale the key is
    * high-cardinality so no nested loop and no skew (both sides
    * pre-filtered by event type before the exchange). Millisecond
    * integer arithmetic on both engines avoids timestamp-unit drift.
    */
  /** Windowed anomaly detection — the data-QC pass a 100 TB ingest runs
    * over its event feed: per user, each value is z-scored against the
    * trailing 20 events (frame excludes the current row), and rows with
    * |z| > 3 are flagged. One shuffle on user_id, then a single sorted
    * pass computes every trailing frame. Mean/variance come from frame
    * sums of DECIMAL(18,2)-quantized values, so both engines feed
    * BIT-IDENTICAL exact sums into the same double arithmetic — no
    * accumulation-order drift, no Welford-vs-textbook disagreement at the
    * |z| = 3 boundary; z is rounded only for display.
    */
  def qAnomaly(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-20, -1)
    val vdec = col("value").cast(DecimalType(18, 2))
    val ev = Tables.events(spark, dir)
      .select(col("*"),
        count(vdec).over(w).as("n"),
        sum(vdec).over(w).cast("double").as("s1"),
        sum(vdec * vdec).over(w).cast("double").as("s2"))
      .filter(col("n") >= 5)
      .withColumn("mean", col("s1") / col("n"))
      .withColumn("variance",
        (col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1))
      .filter(col("variance") > 0)
      .withColumn("z", (col("value") - col("mean")) / sqrt(col("variance")))
      .filter(abs(col("z")) > 3)
    // NO rounding on the outputs: mean and z are IEEE arithmetic over
    // bit-identical decimal-sourced inputs, so the raw doubles already
    // hash-equal across engines — while round(x, 4) would CREATE
    // divergence (cents/20 means land exactly on the half-grid at scale
    // 4, and the engines round decimal ties differently)
    ev.select(col("user_id"), col("event_id"), col("value"),
        col("mean").as("trailing_mean"), col("z"))
      .orderBy("user_id", "event_id")
  }

  def qFunnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), unix_millis(col("ts")).as("v_ms"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), unix_millis(col("ts")).as("p_ms"))
    views.join(purchases,
        col("user_id") === col("p_user") &&
          col("p_ms") >= col("v_ms") && col("p_ms") <= col("v_ms") + lit(3600000L))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_view_purchase_pairs"),
        countDistinct(col("p_ms")).as("n_converted_purchases"))
      .orderBy("user_id")
  }

  /** Decile profile of order value — EXACT ntile semantics without the
    * single-task global window: range-partition on the total order
    * (price, orderkey) — the same sampled-boundary exchange a global sort
    * uses, but never merged into one task — rank within each range
    * partition in parallel, then add the partition's cumulative row
    * offset (one bounded driver collect: #partitions longs, the same
    * metadata a global sort's boundary job produces). The global rank is
    * exact because range partitions are disjoint, ordered, and
    * internally sorted; `ntile(k)` over rank r of n rows is a closed
    * form (first n mod k buckets carry one extra row), so bucket
    * assignment is a pure map over the rank. The input is
    * localCheckpointed so the offset
    * pass and the profile pass scan the shuffled data once each instead
    * of re-shuffling. ParitySpec keeps the one-task window form as the
    * test oracle and asserts equality.
    */
  def qNtile(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nBuckets = 10
    val parts = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"))
      .repartitionByRange(col("o_totalprice"), col("o_orderkey"))
      .withColumn("pid", spark_partition_id())
      .localCheckpoint()
    // bounded collect: one (pid, count) row per partition
    val counts = parts.groupBy(col("pid")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val total = counts.values.sum
    val nParts = if (counts.isEmpty) 1 else counts.keys.max + 1
    val offsets = (0 until nParts).scanLeft(0L)((acc, p) => acc + counts.getOrElse(p, 0L))
    val offsetCol = element_at(array(offsets.take(nParts).map(lit): _*), col("pid") + 1)
    val w = Window.partitionBy(col("pid")).orderBy(col("o_totalprice"), col("o_orderkey"))
    parts
      .withColumn("rank", offsetCol + row_number().over(w))
      .withColumn("decile", {
        // ntile(k) closed form: q rows per bucket, the first rem buckets
        // take one extra ((q+1)-sized); rank is 1-based
        val q = total / nBuckets
        val rem = total % nBuckets
        expr(s"CAST(CASE WHEN rank <= ${rem * (q + 1)} THEN (rank - 1) DIV ${q + 1} " +
          s"ELSE $rem + (rank - ${rem * (q + 1)} - 1) DIV ${math.max(q, 1L)} END AS INT) + 1")
      })
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n"),
        min(col("o_totalprice")).as("lo"), max(col("o_totalprice")).as("hi"))
      .orderBy("decile")
  }

  /** Skew-tolerant aggregation on the driver surface: lineitem grouped
    * by l_returnflag is 3 hot keys over the whole table — the
    * one-task-per-hot-key shape that stalls a 1000-executor job on 3
    * stragglers. [[graft.ops.Scale.saltedAggregate]] spreads each hot
    * key over 16 (key, salt) sub-groups aggregated in parallel, then
    * merges 3×16 partial rows. sum/count are algebraic, so the result is
    * EXACTLY the plain GROUP BY (the oracle); decimal partial sums keep
    * the merge association-exact.
    */
  def qSkewAgg(spark: SparkSession, dir: String): DataFrame = {
    val d = DecimalType(18, 2)
    graft.ops.Scale.saltedAggregate(
      Tables.lineitem(spark, dir), Seq(col("l_returnflag")), nSalts = 16,
      partial = Seq(
        sum(col("l_quantity")).as("p_qty"),
        sum(col("l_extendedprice").cast(d)).as("p_price"),
        count(lit(1)).as("p_n")),
      merge = Seq(
        sum(col("p_qty")).as("sum_qty"),
        sum(col("p_price")).cast("double").as("sum_base_price"),
        sum(col("p_n")).as("n")))
      .orderBy("l_returnflag")
  }

  /** Skew-tolerant equi-join on the driver surface: lineitem ⋈ orders
    * through [[graft.ops.Scale.saltedJoin]] — the big side salted per
    * row, the small side replicated nSalts times, the join key widened
    * to (key, salt) so one hot key spreads over nSalts tasks. Join
    * results are row-identical to the plain join (each big-side row
    * matches exactly its salt's replica), so the aggregate equals the
    * plain-join oracle.
    */
  def qSkewJoin(spark: SparkSession, dir: String): DataFrame = {
    val d = DecimalType(18, 2)
    val supp = Tables.supplier(spark, dir)
      .select(col("s_suppkey"), col("s_nationkey"))
    val li = Tables.lineitem(spark, dir)
      .select(col("l_suppkey").as("s_suppkey"), col("l_extendedprice"), col("l_discount"))
    graft.ops.Scale.saltedJoin(li, supp, "s_suppkey", nSalts = 8)
      .groupBy(col("s_nationkey"))
      .agg(
        sum(col("l_extendedprice").cast(d) * (lit(1).cast(d) - col("l_discount").cast(d)))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("s_nationkey")
  }

  /** Star-schema flagship (TPC-H Q5 shape): revenue per nation for one
    * region and one order year, with the supplier constrained to the
    * customer's nation. The canonical mixed-join plan at 100 TB:
    *   - region→nation is FORCE-broadcast (25 rows at any corpus size —
    *     the only side that is dimension-sized by construction);
    *   - customer and supplier SCALE WITH THE CORPUS, so their joins
    *     are deliberately left to statistics + AQE: at bench SFs they
    *     broadcast (small files), at 100 TB they correctly degrade to
    *     shuffle joins — forcing broadcast() there would OOM the build
    *     side at scale;
    *   - orders is date-filtered AT THE SCAN (pushed predicate) before
    *     touching lineitem, so the fact-fact join sees only the
    *     qualifying year;
    *   - revenue in DECIMAL(18,2), cast to double only at the end.
    */
  def qStarJoin(spark: SparkSession, dir: String): DataFrame = {
    val d = DecimalType(18, 2)
    val asiaNations = Tables.nation(spark, dir)
      .join(broadcast(Tables.region(spark, dir).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val cust = Tables.customer(spark, dir)
      .join(broadcast(asiaNations), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_nationkey"))
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"))
    val supp = Tables.supplier(spark, dir)
      .select(col("s_suppkey"), col("s_nationkey"))
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_extendedprice"), col("l_discount"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(supp,
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(asiaNations), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        sum(col("l_extendedprice").cast(d) * (lit(1).cast(d) - col("l_discount").cast(d)))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("n_name")
  }

  /** Bloom-pruned fact⋈dim join — the runtime-filter pattern for
    * joining a 100 TB fact against a selective dimension without
    * carrying non-matching fact rows into the exchange: the dim's join
    * keys aggregate into a fixed-size Bloom filter (Spark's native
    * `BloomFilterAggregate`, one tiny job), the fact scan drops
    * non-members with a codegen'd `might_contain` BEFORE the join, and
    * the exact join confirms survivors — false positives never reach
    * the result, false negatives are impossible, so the answer equals
    * the plain join the oracle runs. Spark's own InjectRuntimeFilter
    * applies this only when its selectivity heuristics fire; building
    * it explicitly pins the plan shape (ref: the selective-dim joins in
    * nrg_sql_queries.py, here TPC-H-shaped: revenue per brand over the
    * p_size >= 45 slice of `part`).
    */
  def qBloomJoin(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, XxHash64, Literal => CatLiteral}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.Bridge
    import org.apache.spark.sql.types.BinaryType
    val d = DecimalType(18, 2)
    val dim = Tables.part(spark, dir)
      .filter(col("p_size") >= 45)
      .select(col("p_partkey"), col("p_brand"))
    val bf = dim.select(Bridge.toColumn(
        new BloomFilterAggregate(new XxHash64(Seq(Bridge.toExpression(col("p_partkey")))))
          .toAggregateExpression()).as("bf"))
      .first().getAs[Array[Byte]](0)
    val fact = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_extendedprice"), col("l_discount"))
      .filter(Bridge.toColumn(BloomFilterMightContain(
        CatLiteral.create(bf, BinaryType),
        new XxHash64(Seq(Bridge.toExpression(col("l_partkey")))))))
    fact.join(broadcast(dim), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        sum(col("l_extendedprice").cast(d) * (lit(1).cast(d) - col("l_discount").cast(d)))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("p_brand")
  }

  /** Time-series gap fill — the regularization step before any
    * training-window or forecasting job: per-user hourly activity on a
    * dense hour spine, zero-filled counts and last-observation-carried-
    * forward values. No spine table and no join: each observed hour
    * emits itself plus its gap hours up to the next observation
    * (lead()), whose chained half-open intervals tile [first, last]
    * exactly; LOCF runs over the compact hourly rows in the SAME
    * window exchange, before the explode multiplies rows. One
    * exchange + one map-side generate at any scale.
    */
  def qGapFill(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = DecimalType(18, 6)
    val hourly = Tables.events(spark, dir)
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(d)).as("hour_value"))
    // No spine join: each observed hour generates itself plus the gap
    // hours up to (exclusive) the NEXT observed hour via lead() — the
    // chained half-open intervals tile [min(h), max(h)] exactly, gap
    // rows inherit the generating row's value (LOCF for free), and the
    // plan drops from spine-build + hash join + LOCF window to one
    // window + a map-side explode.
    val w = Window.partitionBy(col("user_id")).orderBy(col("h"))
    val wLocf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hourly
      // both windows share one exchange + sort; LOCF runs over the
      // COMPACT hourly rows (pre-explode), and an all-null hour still
      // carries the prior non-null value — the full LOCF contract
      .select(col("user_id"), col("n"), col("h"),
        lead(col("h"), 1).over(w).as("next_h"),
        last(col("hour_value"), ignoreNulls = true).over(wLocf).as("locf"))
      .select(col("user_id"), col("n"), col("locf"), col("h"),
        explode(sequence(col("h"),
          coalesce(col("next_h") - expr("INTERVAL 1 HOUR"), col("h")),
          expr("INTERVAL 1 HOUR"))).as("fill_h"))
      .select(col("user_id"), unix_millis(col("fill_h")).as("hour_ms"),
        when(col("fill_h") === col("h"), col("n")).otherwise(lit(0L)).as("n_events"),
        col("locf").cast("double").as("locf_value"))
      .orderBy("user_id", "hour_ms")
  }

  /** Weekly cohort retention — the engagement query every analytics
    * surface ships: users grouped by first-activity week, counted once
    * per (cohort, weeks-since-cohort) cell. Two aggregations and one
    * join, ALL keyed on user_id, so at scale the plan is two shuffles of
    * one row per user(+week) and a final tiny cell aggregate; no window,
    * no driver state. Week alignment is Monday both engines.
    */
  def qRetention(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val first = ev.groupBy(col("user_id"))
      .agg(date_trunc("week", min(col("ts"))).cast("date").as("cohort_week"))
    val active = ev
      .select(col("user_id"), date_trunc("week", col("ts")).cast("date").as("wk"))
      .distinct()
    // `active` is distinct on (user, wk) and wk -> offset is injective
    // per user (wk values are 7-day-spaced Mondays), so every
    // (cohort, offset, user) row is already unique: count(*) IS the
    // distinct-user count, without the Expand + extra exchange a
    // count(DISTINCT) would plan.
    active.join(first, Seq("user_id"))
      .groupBy(col("cohort_week"),
        (datediff(col("wk"), col("cohort_week")) / 7).cast("int").as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_week", "week_offset")
  }

  /** One-pass multi-column data profile — the QC shape that matters at
    * 100 TB: every statistic for every profiled column comes from a
    * SINGLE scan and a single aggregation (exact distincts plan as one
    * Expand — data×4 map-side, partially aggregated before the
    * exchange), then the wide row unpivots to one row per column. The
    * alternative — one query per column — scans the table N times.
    */
  def qProfile(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val aggs = cols.flatMap { c =>
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"),
        countDistinct(col(c)).as(s"${c}_dist"),
        min(col(c)).as(s"${c}_min"),
        max(col(c)).as(s"${c}_max"),
        round(avg(col(c)), 4).as(s"${c}_avg"))
    } :+ count(lit(1)).as("n_rows")
    val wide = Tables.lineitem(spark, dir).agg(aggs.head, aggs.tail: _*)
    val rows = cols.map { c =>
      struct(lit(c).as("col_name"), col("n_rows"),
        col(s"${c}_nulls").as("n_null"), col(s"${c}_dist").as("n_distinct"),
        col(s"${c}_min").as("min_val"), col(s"${c}_max").as("max_val"),
        col(s"${c}_avg").as("mean_val"))
    }
    wide.select(explode(array(rows: _*)).as("p")).select(col("p.*"))
      .orderBy("col_name")
  }

  /** Training-sequence packing by character budget — the step that turns
    * a curated corpus into fixed-size model inputs: documents
    * concatenate in stable (bucket, doc_id) order and cut every `budget`
    * characters, so a document's sequence id is its start offset over
    * the budget. Packing is per hash bucket (256 of them), which is what
    * makes it scale: each bucket's running sum is an independent window
    * over its own partition — no global order, no single task, and
    * adding machines splits buckets, not the stream.
    */
  def qPackChars(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val budget = 4096
    val bucket = substring(md5(col("doc_id").cast("string").cast("binary")), 1, 2)
    val w = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"), bucket.as("bucket"))
      .withColumn("cum", sum(col("n_chars")).over(w))
      .groupBy(col("bucket"),
        floor((col("cum") - col("n_chars")) / budget).as("seq_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .orderBy("bucket", "seq_id")
  }

  /** SCD2 temporal-dimension build — turn an event stream into validity
    * intervals: each row where a user's event_type differs from the
    * previous one opens a version, valid until 1 ms before the next
    * change (open-ended for the current version). Both windows partition
    * on user_id, so one exchange feeds lag-detect and lead-close; change
    * detection halves the data before the second window. Millisecond
    * epoch keys keep both engines' tiebreaks identical.
    */
  def qScd2(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        unix_millis(col("ts")).as("t"), col("event_id"))
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
      .select(col("user_id"), col("event_type"), col("t").as("valid_from_ms"),
        (lead(col("t"), 1).over(w) - 1).as("valid_to_ms"))
      .orderBy("user_id", "valid_from_ms", "event_type")
  }

  /** Equi-width histogram of order totals — the distribution profile
    * behind data-drift checks: min/max come from one aggregate whose
    * scalar results fold into the bucketing expression (engine-stable,
    * no magic constants), then one pass assigns floor((x-min)/width) and
    * counts. Two scans total, both fully parallel; the bucket count (20)
    * bounds the result regardless of data volume.
    */
  def qHistogram(spark: SparkSession, dir: String): DataFrame = {
    val nBuckets = 20
    val orders = Tables.orders(spark, dir)
    val Row(lo: Double, hi: Double) =
      orders.agg(min(col("o_totalprice")), max(col("o_totalprice"))).head()
    val width = (hi - lo) / nBuckets
    orders
      .select(least(floor((col("o_totalprice") - lo) / width), lit(nBuckets - 1))
        .cast("int").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"))
      .withColumn("lo", round(lit(lo) + col("bucket") * width, 4))
      .withColumn("hi", round(lit(lo) + (col("bucket") + 1) * width, 4))
      .select(col("bucket"), col("lo"), col("hi"), col("n"))
      .orderBy("bucket")
  }

  /** Pairwise Pearson correlations of the lineitem measures in ONE
    * aggregation — corr is algebraic (six running sums per pair), so all
    * three pairs partial-aggregate map-side and the exchange carries one
    * row. The profile/drift companion to [[qProfile]].
    */
  def qCorr(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Seq(
      ("l_quantity", "l_extendedprice"),
      ("l_quantity", "l_discount"),
      ("l_extendedprice", "l_discount"))
    val aggs = pairs.map { case (a, b) =>
      round(corr(col(a), col(b)), 6).as(s"${a}__$b")
    }
    val wide = Tables.lineitem(spark, dir).agg(aggs.head, aggs.tail: _*)
    val rows = pairs.map { case (a, b) =>
      struct(lit(a).as("col_a"), lit(b).as("col_b"),
        col(s"${a}__$b").as("pearson_r"))
    }
    wide.select(explode(array(rows: _*)).as("p")).select(col("p.*"))
      .orderBy("col_a", "col_b")
  }

  /** Markov transition matrix over the event stream: for every ordered
    * pair of event types, how often does `to` directly follow `from`
    * within a user's timeline, and with what conditional probability.
    * The sequence-mining primitive behind next-action prediction and
    * curriculum analysis of interaction logs. Scale: ONE shuffle on
    * user_id for the lag window; the transition matrix is |types|² rows,
    * so the per-`from` normalizing window runs over a tiny aggregate.
    * p is an int/int double (bit-identical cross-engine, no rounding).
    */
  def qTransitions(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t"), col("event_id"))
    val pairs = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("t"), col("event_type"))
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNotNull)
    val counts = pairs
      .groupBy(col("prev").as("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val wf = Window.partitionBy(col("from_type"))
    counts
      .withColumn("p", col("n").cast("double") / sum(col("n")).over(wf))
      .orderBy("from_type", "to_type")
  }

  /** Top-20 session paths: each 30-minute-gap session contributes the
    * `>`-joined sequence of its first 8 event types; paths rank by
    * frequency. The path-mining view of the same session definition as
    * q_sessionize (lag-gap flag + running sum — the SQL-expressible
    * twin of the sessionizer fold). Scale: one shuffle on user_id;
    * per-session collect_list is session-bounded and CAPPED at 8 events
    * before stringification, so no path string grows with the data; the
    * final rank is a TakeOrderedAndProject top-k, never a global sort.
    */
  def qTopPaths(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t"), col("event_id"))
    val sess = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("t"), col("event_type"))
      .withColumn("new_sess",
        when(lag(col("t"), 1).over(w).isNull ||
          col("t") - lag(col("t"), 1).over(w) > 1800000L, 1).otherwise(0))
      .withColumn("sess_id",
        sum(col("new_sess")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    sess
      .groupBy(col("user_id"), col("sess_id"))
      .agg(concat_ws(">",
        transform(
          slice(array_sort(collect_list(
            struct(col("t"), col("event_id"), col("event_type")))), 1, 8),
          s => s.getField("event_type"))).as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(20)
  }

  /** Interval coverage: merge overlapping per-user activity intervals
    * into maximal spans (the gaps-and-islands "flatten" op — distinct
    * from q_sessionize's point-gap sessions: intervals carry a duration
    * and nested/overlapping ones must union, which a lag-gap flag gets
    * wrong for contained intervals). Each event opens an interval of
    * `(event_id % 7 + 1)` minutes; a span breaks only where the start
    * strictly exceeds the running max of all earlier ends (touching
    * intervals merge). Scale: ONE shuffle on user_id; both windows and
    * the final groupBy reuse that partitioning, and no span state grows
    * beyond a running-max long. Millis arithmetic end-to-end — BIGINT
    * in both engines, no timestamp-arithmetic drift.
    */
  def qMergeIntervals(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("s"), col("event_id"))
    val iv = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("s"),
        (unix_millis(col("ts")) + (col("event_id") % 7 + 1) * 60000L).as("e"))
    iv
      .withColumn("rm", max(col("e")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_span", when(col("rm").isNull || col("s") > col("rm"), 1).otherwise(0))
      .withColumn("span_id",
        sum(col("new_span")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("span_id"))
      .agg(
        min(col("s")).as("span_start_ms"),
        max(col("e")).as("span_end_ms"),
        count(lit(1)).as("n_events"))
      .withColumn("covered_s", expr("(span_end_ms - span_start_ms) div 1000"))
      .select(col("user_id"), col("span_start_ms"), col("span_end_ms"),
        col("n_events"), col("covered_s"))
      .orderBy(col("user_id"), col("span_start_ms"))
  }

  /** Distribution drift between temporal splits — the train/eval gate a
    * 100 TB pipeline runs before shipping a new data cut: order prices
    * before/after a pivot date compare via a 100-bin equi-width ECDF
    * (Kolmogorov-Smirnov distance) and a Laplace-smoothed population
    * stability index. The binned form is the scale-shaped one: the
    * exact KS needs a global sort (the retired q_ntile shape), while
    * bins partial-aggregate map-side and the cumulative window runs
    * over ≤100 aggregated rows. Cross-engine parity: bucket ids and
    * counts are integers; ECDF gaps are int/int doubles; the PSI terms
    * quantize to DECIMAL(18,9) before the (tiny) sum so accumulation
    * order cannot drift.
    */
  def qDriftKs(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nBins = 100
    val pivot = java.sql.Timestamp.valueOf("1998-01-01 00:00:00")
    val o = Tables.orders(spark, dir)
      .select(col("o_totalprice").as("v"),
        (col("o_orderdate") < lit(pivot)).as("early"))
    val s = o.agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
    val g = o.crossJoin(broadcast(s))
      .withColumn("bucket",
        least(floor((col("v") - col("mn")) / ((col("mx") - col("mn")) / nBins)),
          lit(nBins - 1)).cast("int"))
      .groupBy(col("bucket"))
      .agg(
        sum(when(col("early"), 1L).otherwise(0L)).as("n_early"),
        sum(when(!col("early"), 1L).otherwise(0L)).as("n_late"))
    val t = g.agg(sum(col("n_early")).as("tot_early"), sum(col("n_late")).as("tot_late"))
    val wc = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    g.crossJoin(broadcast(t))
      .withColumn("gap", abs(
        sum(col("n_early")).over(wc).cast("double") / col("tot_early") -
        sum(col("n_late")).over(wc).cast("double") / col("tot_late")))
      .withColumn("p_early",
        (col("n_early") + 1).cast("double") / (col("tot_early") + nBins))
      .withColumn("p_late",
        (col("n_late") + 1).cast("double") / (col("tot_late") + nBins))
      .withColumn("psi_term",
        ((col("p_early") - col("p_late")) * log(col("p_early") / col("p_late")))
          .cast(DecimalType(18, 9)))
      .groupBy(col("tot_early"), col("tot_late"))
      .agg(
        round(max(col("gap")), 6).as("ks"),
        round(sum(col("psi_term")).cast("double"), 6).as("psi"),
        count(lit(1)).as("n_bins_hit"))
      .select(col("ks"), col("psi"), col("n_bins_hit"),
        col("tot_early"), col("tot_late"))
  }

  /** Morton (Z-order) interleave of two 16-bit key columns — the
    * composed-Column reference formulation: 32 disjoint-bit terms,
    * OR-combined. Kept as the equivalence oracle for the native
    * [[graft.functions.MortonInterleave]] expression (5 mask-shift
    * rounds per operand in generated code), which [[qZorder]] uses.
    */
  private[graft] def zvalueComposed(a: Column, b: Column): Column =
    (0 until 16).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i + 1)
        .bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i))
    }.reduce(_ bitwiseOR _)

  private def zvalue(a: Column, b: Column): Column =
    graft.functions.MortonInterleave.morton(a, b)

  /** Z-order data layout + min-max skipping audit — the clustering step
    * a 100 TB table runs before writing so that per-file min/max stats
    * prune MULTI-dimensional box predicates (sorting by one key bounds
    * only that key; Morton interleaving bounds both). Rows are bucketed
    * into 64 equal-width z-ranges (the "files"); per bucket the query
    * reports both keys' min/max spans and whether a fixed relative box
    * predicate (middle eighth of each dimension) could skip the bucket
    * entirely. ParitySpec asserts z-order prunes where a one-key sort
    * layout cannot. Scale: one pure-map z computation fused into the
    * scan, a 5-value global agg broadcast back, one shuffle on zbucket —
    * the real write path would `repartitionByRange(z)` with the same
    * arithmetic. Integer-only math end-to-end for oracle exactness.
    */
  def qZorder(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.lineitem(spark, dir)
      .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
    val bounds = base.agg(
      min(col("pk")).as("pklo0"), max(col("pk")).as("pkhi0"),
      min(col("sk")).as("sklo0"), max(col("sk")).as("skhi0"))
    // Normalize each dimension to the full 16-bit range before
    // interleaving: raw-bit interleave degrades to a one-key sort when
    // the dimensions' bit widths differ (a 10-value suppkey contributes
    // only low-order z bits). Normalized, the top 6 z bits are the top
    // 3 bits of EACH dimension — every bucket is a 1/8 x 1/8 tile.
    base.crossJoin(broadcast(bounds))
      .withColumn("npk", expr(
        "case when pkhi0 > pklo0 then (pk - pklo0) * 65535L div (pkhi0 - pklo0) else 0L end"))
      .withColumn("nsk", expr(
        "case when skhi0 > sklo0 then (sk - sklo0) * 65535L div (skhi0 - sklo0) else 0L end"))
      .withColumn("z", zvalue(col("npk"), col("nsk")))
      .withColumn("zbucket", expr("z div 67108864L"))
      .withColumn("qlo", expr("pklo0 + (((pkhi0 - pklo0) * 3) div 8)"))
      .withColumn("qhi", expr("pklo0 + (((pkhi0 - pklo0) * 4) div 8)"))
      .withColumn("slo", expr("sklo0 + (((skhi0 - sklo0) * 3) div 8)"))
      .withColumn("shi", expr("sklo0 + (((skhi0 - sklo0) * 4) div 8)"))
      .groupBy(col("zbucket"), col("qlo"), col("qhi"), col("slo"), col("shi"))
      .agg(
        count(lit(1)).as("n"),
        min(col("pk")).as("pk_min"), max(col("pk")).as("pk_max"),
        min(col("sk")).as("sk_min"), max(col("sk")).as("sk_max"))
      .withColumn("prunable",
        (col("pk_max") < col("qlo") || col("pk_min") > col("qhi") ||
         col("sk_max") < col("slo") || col("sk_min") > col("shi")).cast("int"))
      .select(col("zbucket"), col("n"), col("pk_min"), col("pk_max"),
        col("sk_min"), col("sk_max"), col("prunable"))
      .orderBy("zbucket")
  }

  /** 2-D skyline (Pareto frontier): parts not dominated on
    * (minimize p_retailprice, maximize p_size) — the multi-objective
    * filter a curation pipeline runs to keep only best-tradeoff rows
    * (cheapest at every quality level). Distributed shape: (1) groupBy
    * price folds same-price ties to the per-price max size — the only
    * full-data shuffle; (2) a coarse price-bucket running max, computed
    * over ~hundreds of buckets, broadcasts back and PRUNES every row
    * whose size is dominated by a strictly-lower bucket (sound: a
    * lower-bucket row always has strictly lower price), so (3) the
    * exact running-max window runs over only the surviving sliver, not
    * the corpus; (4) a broadcast join back to the fact recovers all
    * tied rows. Oracle is the SEMANTIC definition (NOT EXISTS
    * dominance), not this algorithm — the two agree exactly.
    */
  def qSkyline(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val best = Tables.part(spark, dir)
      .groupBy(col("p_retailprice"))
      .agg(max(col("p_size")).as("best_size"))
      .withColumn("bkt", expr("cast(floor(p_retailprice) as bigint) div 100"))
    val wB = Window.orderBy(col("bkt"))
    val bound = best.groupBy(col("bkt")).agg(max(col("best_size")).as("bmax"))
      .withColumn("lb", max(col("bmax")).over(
        wB.rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("bkt"), col("lb"))
    val wP = Window.orderBy(col("p_retailprice"))
    val frontier = best.join(broadcast(bound), "bkt")
      .filter(col("lb").isNull || col("best_size") > col("lb"))
      .withColumn("rm", max(col("best_size")).over(
        wP.rowsBetween(Window.unboundedPreceding, -1)))
      .filter(col("rm").isNull || col("best_size") > col("rm"))
      .select(col("p_retailprice").as("f_price"), col("best_size"))
    Tables.part(spark, dir)
      .join(broadcast(frontier),
        col("p_retailprice") === col("f_price") && col("p_size") === col("best_size"))
      .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
      .orderBy("p_partkey")
  }

  /** Exponentially time-decayed aggregation — the recency weighting a
    * feature/reporting pipeline applies so old activity fades with a
    * 91-day half-life. The weight is 1/2^floor(age/91): an EXACT
    * power-of-two scale (integer shift, no pow()), so the weighted term
    * is a pure exponent shift of the double price — bit-identical in
    * any IEEE engine — and the sum runs in DECIMAL (exact, association-
    * order-free). The anchor is max(o_orderdate), computed once and
    * broadcast. Scale: scan + broadcast scalar + one shuffle agg with
    * map-side partials; no window, no sort before the 5-row output.
    */
  def qDecay(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val anchor = o.agg(max(to_date(col("o_orderdate"))).as("anchor"))
    o.crossJoin(broadcast(anchor))
      .withColumn("hl", expr(
        "datediff(anchor, cast(o_orderdate as date)) div 91"))
      .withColumn("term", expr(
        "cast(o_totalprice / shiftleft(cast(1 as bigint), cast(hl as int)) as decimal(28,10))"))
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n"),
        expr("cast(sum(cast(o_totalprice as decimal(18,2))) as double)").as("raw_rev"),
        round(expr("cast(sum(term) as double)"), 4).as("decayed_rev"))
      .orderBy("o_orderpriority")
  }

  /** Array higher-order-function battery: sequence/transform/filter/
    * aggregate/zip_with/exists/slice/array_max/array_position — the
    * collection surface a feature pipeline uses on token/embedding
    * arrays, exercised here over integer arrays (exact cross-engine
    * parity; every output column is scalar so the driver's hash compare
    * is structural-type-free). DuckDB mirrors each HOF with its list_*
    * lambda forms. Codegen note: all HOFs here are Catalyst
    * higher-order functions — no UDFs, single projection over the scan.
    */
  def qArrayFns(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .withColumn("arr", expr("sequence(cast(1 as bigint), cast(p_size % 8 + 3 as bigint))"))
      .select(
        col("p_partkey"),
        expr("cast(size(arr) as int)").as("n_elems"),
        expr("aggregate(arr, cast(0 as bigint), (a, x) -> a + x * x)").as("sum_sq"),
        expr("array_join(filter(arr, x -> x % 2 = 0), ',')").as("evens"),
        expr("aggregate(zip_with(arr, reverse(arr), (a, b) -> a * b), cast(0 as bigint), (a, x) -> a + x)").as("dot_rev"),
        expr("array_max(arr)").as("mx"),
        expr("array_join(slice(arr, 1, 3), ',')").as("head3"),
        expr("array_join(reverse(arr), ',')").as("desc_join"),
        expr("cast(exists(arr, x -> x > 5) as int)").as("has_gt5"),
        expr("array_position(arr, cast(5 as bigint))").as("pos5"))
      .orderBy("p_partkey")

  /** Regex scalar-function battery: extract / extract-first-group /
    * count / replace / backreference swap / anchored match / split —
    * the text-wrangling surface of log and document pipelines. Patterns
    * stay in the RE2 ∩ java.util.regex common subset (character
    * classes, anchors, word chars, capture groups) so both engines
    * match identically; the backreference syntax differs ($1 vs \1) but
    * the semantics agree. Pure map fused into the scan.
    */
  def qRegexFns(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select(
        col("p_partkey"),
        regexp_extract(col("p_name"), "^([a-z]+)", 1).as("first_word"),
        expr("cast(regexp_count(p_name, '[aeiou]') as int)").as("n_vowels"),
        regexp_replace(col("p_name"), "[aeiou]", "").as("devoweled"),
        expr("array_join(split(p_name, ' '), '|')").as("words"),
        regexp_extract(col("p_brand"), "([0-9]+)", 1).as("brand_digits"),
        expr("cast(p_type rlike 'BRASS$' as int)").as("is_brass"),
        regexp_replace(col("p_type"), "^(\\w+) (\\w+)", "$2 $1").as("swapped"))
      .orderBy("p_partkey")

  /** Market-basket association rules: co-occurrence support, confidence
    * and lift for part pairs within an order — the classic affinity
    * mining op (and, in a training-data pipeline, the co-occurrence
    * statistic behind token/document association features). Pair
    * generation is a SELF-JOIN ON THE BASKET KEY with p1 < p2, so the
    * blowup is bounded by basket size (≤7 lines per order here), never
    * corpus size; the join is co-partitioned on l_orderkey (one shuffle
    * feeds both sides). Lift/confidence are single exactly-rounded
    * double divisions of exact integer counts — engine-agnostic.
    * Output: pairs seen ≥2 times, top 50 by lift.
    */
  def qMarketBasket(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val nOrders = li.select(col("ok")).distinct()
      .agg(count(lit(1)).as("n_orders"))
    val singles = li.groupBy(col("pk")).agg(count(lit(1)).as("n_item"))
    val pairs = li.as("a")
      .join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("p1"), col("b.pk").as("p2"))
      .agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= 2)
    // NO broadcast hint on `singles`: it scales with the part catalog
    // (millions of rows at a 100x catalog) — a forced hint would override
    // AQE and OOM the driver. AQE still picks broadcast when it fits; at
    // catalog scale it falls back to a sort-merge join keyed on the part
    // id, which is the right plan. The 1-row nOrders broadcast is safe.
    pairs
      .join(singles.withColumnRenamed("pk", "p1")
        .withColumnRenamed("n_item", "n1"), "p1")
      .join(singles.withColumnRenamed("pk", "p2")
        .withColumnRenamed("n_item", "n2"), "p2")
      .crossJoin(broadcast(nOrders))
      .select(
        col("p1"), col("p2"), col("n_pair"), col("n1"), col("n2"),
        round(col("n_pair").cast("double") / col("n_orders"), 6).as("support"),
        round(col("n_pair").cast("double") / col("n1"), 6).as("confidence"),
        round((col("n_pair") * col("n_orders")).cast("double") /
          (col("n1") * col("n2")), 6).as("lift"))
      .orderBy(col("lift").desc, col("p1"), col("p2"))
      .limit(50)
  }

  /** Benford first-significant-digit audit — the fraud/data-quality
    * screen run over money columns: observed first-digit frequencies
    * vs the Benford expectation log10(1+1/d). The digit comes from
    * floor-then-cast (DuckDB CAST(double AS BIGINT) ROUNDS, so the
    * floor is load-bearing for parity). One scan, one 9-group agg.
    */
  def qBenford(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .withColumn("d", expr(
        "cast(substring(cast(cast(floor(o_totalprice) as bigint) as string), 1, 1) as int)"))
    val tot = o.agg(count(lit(1)).as("n_total"))
    o.groupBy(col("d")).agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(tot))
      .select(
        col("d"), col("n"),
        round(col("n").cast("double") / col("n_total"), 6).as("obs_frac"),
        round(log10(lit(1.0) + lit(1.0) / col("d")), 6).as("benford_frac"))
      .orderBy("d")
  }

  /** Chi-squared independence test between two categorical columns
    * (order priority x order status) — the drift/association screen a
    * curation pipeline runs on label-ish columns. Expected cell counts
    * come from exact integer row/col totals (r*c then one exactly-
    * rounded double divide), so per-cell contributions are engine-
    * agnostic. Scale: one shuffle for the contingency groupBy; the
    * row/col/total margins are tiny aggregates broadcast back.
    */
  def qChi2(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderpriority").as("pri"), col("o_orderstatus").as("st"))
    val cells = o.groupBy(col("pri"), col("st")).agg(count(lit(1)).as("n"))
    val rowT = o.groupBy(col("pri")).agg(count(lit(1)).as("r"))
    val colT = o.groupBy(col("st")).agg(count(lit(1)).as("c"))
    val tot = o.agg(count(lit(1)).as("total"))
    cells
      .join(broadcast(rowT), "pri")
      .join(broadcast(colT), "st")
      .crossJoin(broadcast(tot))
      .withColumn("expected", (col("r") * col("c")).cast("double") / col("total"))
      .select(
        col("pri"), col("st"), col("n"),
        round(col("expected"), 6).as("expected"),
        round((col("n") - col("expected")) * (col("n") - col("expected")) /
          col("expected"), 6).as("chi2_contrib"))
      .orderBy("pri", "st")
  }

  /** Robust outlier detection via median absolute deviation — the
    * heavy-tail-safe alternative to z-scores (q_anomaly) for scoring a
    * value column per group: median and MAD are insensitive to the
    * outliers they flag. Two percentile passes (median, then median of
    * absolute residuals) with the tiny per-group medians broadcast
    * between them; flags |v - med| > 3 * MAD.
    */
  def qOutlierMad(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("event_type"), col("value"))
    val med = ev.groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.5)").as("med"))
    val withMed = ev.join(broadcast(med), "event_type")
      .withColumn("resid", abs(col("value") - col("med")))
    val mad = withMed.groupBy(col("event_type"))
      .agg(expr("percentile(resid, 0.5)").as("mad"))
    withMed.join(broadcast(mad), "event_type")
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        round(min(col("med")), 6).as("med"),
        round(min(col("mad")), 6).as("mad"),
        sum(when(col("resid") > lit(3.0) * col("mad"), 1L).otherwise(0L)).as("n_outliers"))
      .orderBy("event_type")
  }

  /** Latest-record-per-key compaction — the last-writer-wins read of an
    * upsert/CDC log, THE most common change-capture op. Implemented as
    * max_by over a (ts, event_id) ordering struct: one shuffle with
    * map-side partials and NO per-group sort, where the textbook
    * row_number()=1 window would sort every partition (the oracle uses
    * exactly that formulation, so the two agree). Ties are impossible
    * by construction (event_id is unique), keeping both forms
    * deterministic.
    */
  def qLatest(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(max_by(
        struct(
          unix_millis(col("ts")).as("t"), col("event_id"),
          col("event_type"), col("value")),
        struct(unix_millis(col("ts")), col("event_id"))).as("last"))
      .select(
        col("user_id"),
        col("last.t").as("last_ts_ms"),
        col("last.event_id").as("last_event_id"),
        col("last.event_type").as("last_event_type"),
        col("last.value").as("last_value"))
      .orderBy("user_id")

  /** Day-of-week seasonality decomposition of daily revenue: each day's
    * total vs the mean of its weekday peers, as an additive deviation
    * and a multiplicative seasonal index — the detrending step before
    * anomaly thresholds or forecasts are fit. Daily totals are exact
    * decimal sums; the weekday means divide those exact sums as
    * doubles, so both engines round identically. Scale: one shuffle to
    * daily grain, a 7-row mean table broadcast back.
    */
  def qSeasonality(spark: SparkSession, dir: String): DataFrame = {
    // the weekday mean divides a DECIMAL sum-of-sums: summing the
    // daily totals as doubles would make the mean association-order-
    // dependent and break cross-engine rounding at the 4th decimal
    val daily = Tables.orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(expr("sum(cast(o_totalprice as decimal(18,2)))").as("rev_dec"))
      .withColumn("dow", dayofweek(col("d")))
    val dowMean = daily.groupBy(col("dow"))
      .agg((expr("cast(sum(rev_dec) as double)") / count(lit(1))).as("dow_mean"))
    daily.join(broadcast(dowMean), "dow")
      .withColumn("day_rev", col("rev_dec").cast("double"))
      .select(
        col("d"), col("dow"), col("day_rev"),
        round(col("dow_mean"), 4).as("dow_mean"),
        round(col("day_rev") - col("dow_mean"), 4).as("deviation"),
        round(col("day_rev") / col("dow_mean"), 6).as("seasonal_index"))
      .orderBy("d")
  }

  /** Autocorrelation of daily revenue at calendar lags 1..10 — the
    * seasonality/persistence diagnostic run before picking forecast
    * windows or drift alert horizons (complements [[qSeasonality]],
    * which fixes the period at 7; ACF measures ALL short lags). Lagged
    * pairs come from an equi-join of the series against itself shifted
    * by k days (a 10-row lag spine cross-joined into the join key), so
    * gaps in the calendar drop out naturally and no session-wide sort
    * or single-partition window is needed. Daily totals are exact
    * decimal sums cast to double, so both engines correlate identical
    * inputs; corr rounds to 6 (the [[qCorr]] convention). Scale: one
    * shuffle to daily grain; everything after operates on the
    * calendar-sized series (~365 rows/year no matter the corpus).
    */
  def qAcf(spark: SparkSession, dir: String): DataFrame = {
    val dec = DecimalType(18, 2)
    val s = Tables.orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(sum(col("o_totalprice").cast(dec)).cast("double").as("v"))
    val lags = spark.range(1, 11).select(col("id").cast("int").as("k"))
    val shifted = s.select(col("d").as("bd"), col("v").as("bv"))
      .crossJoin(broadcast(lags))
      .select(date_add(col("bd"), col("k")).as("d"), col("bv"), col("k"))
    s.join(shifted, "d")
      .groupBy(col("k"))
      .agg(
        round(corr(col("v"), col("bv")), 6).as("acf"),
        count(lit(1)).as("n_pairs"))
      .orderBy("k")
  }

  /** CUSUM changepoint detection on daily revenue — the classic
    * sequential shift detector (Page 1954) completing the time-series
    * battery ([[qAnomaly]] flags single-day spikes; CUSUM accumulates
    * small sustained drifts a per-day z-score never sees). The
    * textbook recurrence `S+_t = max(0, S+_{t-1} + (x_t - mu - k))` is
    * not a window function, but its closed form is:
    * `S+_t = C_t - min(0, min_{j<=t} C_j)` over the plain cumulative
    * sum C of the drift-adjusted series, so two stock window
    * aggregates (running sum, running min/max) compute it with no
    * recursion or driver loop. Everything runs in integer cents
    * (DECIMAL(18,2)·100 → BIGINT): reference mean, allowance (mu/20)
    * and threshold (mu/2) use floor division, so every value is
    * hash-exact under any partitioning and both engines agree bit for
    * bit. Scale: one shuffle to daily grain; the windows order a
    * calendar-bounded series (one row per day regardless of corpus
    * size), the [[qAcf]]/[[qSeasonality]] posture.
    */
  def qCusum(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(sum((col("o_totalprice").cast(DecimalType(18, 2)) * 100)
        .cast("long")).as("x"))
    val stats = daily.agg(expr("sum(x) div count(*)").as("mu"))
    val w = Window.orderBy("d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.crossJoin(broadcast(stats))
      .withColumn("cp", sum(col("x") - col("mu") - expr("mu div 20")).over(w))
      .withColumn("cn", sum(col("x") - col("mu") + expr("mu div 20")).over(w))
      .withColumn("cusum_pos", col("cp") - least(lit(0L), min(col("cp")).over(w)))
      .withColumn("cusum_neg", greatest(lit(0L), max(col("cn")).over(w)) - col("cn"))
      .select(col("d"), col("x").as("revenue_cents"),
        col("cusum_pos"), col("cusum_neg"),
        (col("cusum_pos") > expr("mu div 2") ||
          col("cusum_neg") > expr("mu div 2")).as("flag"))
      .orderBy("d")
  }

  /** Morton interleave as DuckDB SQL: the same 32 disjoint-bit terms,
    * `+`-combined (equivalent to OR on disjoint bits).
    */
  private def zvalueSql(a: String, b: String): String =
    (0 until 16).map { i =>
      s"((($a >> $i) & 1) << ${2 * i + 1}) + ((($b >> $i) & 1) << ${2 * i})"
    }.mkString(" + ")

  val oracles: Map[String, String] = Map(
    "q_zorder" ->
      s"""WITH base AS (SELECT l_partkey AS pk, l_suppkey AS sk FROM lineitem),
        |g AS (SELECT min(pk) AS pklo0, max(pk) AS pkhi0,
        |             min(sk) AS sklo0, max(sk) AS skhi0 FROM base),
        |nrm AS (SELECT pk, sk, pklo0, pkhi0, sklo0, skhi0,
        |               CASE WHEN pkhi0 > pklo0
        |                    THEN (pk - pklo0) * 65535 // (pkhi0 - pklo0) ELSE 0 END AS npk,
        |               CASE WHEN skhi0 > sklo0
        |                    THEN (sk - sklo0) * 65535 // (skhi0 - sklo0) ELSE 0 END AS nsk
        |        FROM base, g),
        |z AS (SELECT pk, sk, pklo0, pkhi0, sklo0, skhi0,
        |             ${zvalueSql("npk", "nsk")} AS z
        |      FROM nrm),
        |b AS (SELECT z // 67108864 AS zbucket, pk, sk,
        |             pklo0 + (((pkhi0 - pklo0) * 3) // 8) AS qlo,
        |             pklo0 + (((pkhi0 - pklo0) * 4) // 8) AS qhi,
        |             sklo0 + (((skhi0 - sklo0) * 3) // 8) AS slo,
        |             sklo0 + (((skhi0 - sklo0) * 4) // 8) AS shi
        |      FROM z)
        |SELECT zbucket, count(*) AS n,
        |       min(pk) AS pk_min, max(pk) AS pk_max,
        |       min(sk) AS sk_min, max(sk) AS sk_max,
        |       CAST(max(pk) < qlo OR min(pk) > qhi OR
        |            max(sk) < slo OR min(sk) > shi AS INT) AS prunable
        |FROM b GROUP BY zbucket, qlo, qhi, slo, shi
        |ORDER BY zbucket""".stripMargin,
    "q_skyline" ->
      """SELECT p.p_partkey, p.p_retailprice, p.p_size
        |FROM part p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM part q
        |  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
        |    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
        |ORDER BY p.p_partkey""".stripMargin,
    "q_decay" ->
      """WITH g AS (SELECT max(CAST(o_orderdate AS DATE)) AS anchor FROM orders),
        |t AS (SELECT o_orderpriority, o_totalprice,
        |             date_diff('day', CAST(o_orderdate AS DATE), anchor) // 91 AS hl
        |      FROM orders, g)
        |SELECT o_orderpriority, count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS raw_rev,
        |       round(CAST(sum(CAST(o_totalprice / (1::BIGINT << CAST(hl AS INT))
        |                           AS DECIMAL(28,10))) AS DOUBLE), 4) AS decayed_rev
        |FROM t GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q_array_fns" ->
      """WITH a AS (SELECT p_partkey, range(1, (p_size % 8 + 3) + 1) AS arr FROM part)
        |SELECT p_partkey,
        |       CAST(len(arr) AS INT) AS n_elems,
        |       CAST(list_sum(list_transform(arr, x -> x * x)) AS BIGINT) AS sum_sq,
        |       array_to_string(list_filter(arr, x -> x % 2 = 0), ',') AS evens,
        |       CAST(list_sum(list_transform(range(1, len(arr) + 1),
        |            i -> arr[CAST(i AS INT)] * arr[CAST(len(arr) + 1 - i AS INT)]))
        |            AS BIGINT) AS dot_rev,
        |       list_max(arr) AS mx,
        |       array_to_string(arr[1:3], ',') AS head3,
        |       array_to_string(list_reverse(arr), ',') AS desc_join,
        |       CAST(len(list_filter(arr, x -> x > 5)) > 0 AS INT) AS has_gt5,
        |       CAST(COALESCE(list_position(arr, 5), 0) AS BIGINT) AS pos5
        |FROM a ORDER BY p_partkey""".stripMargin,
    // oracle uses the textbook row_number()=1 window; the Spark side is
    // the sort-free max_by aggregate — agreement shows the rewrite is safe
    "q_latest" ->
      """WITH r AS (
        |  SELECT user_id, epoch_ms(ts) AS t, event_id, event_type, value,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, t AS last_ts_ms, event_id AS last_event_id,
        |       event_type AS last_event_type, value AS last_value
        |FROM r WHERE rn = 1
        |ORDER BY user_id""".stripMargin,
    "q_seasonality" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d,
        |         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev_dec
        |  FROM orders GROUP BY 1),
        |dd AS (SELECT d, rev_dec, CAST(dayofweek(d) + 1 AS INT) AS dow FROM daily),
        |dm AS (SELECT dow, CAST(sum(rev_dec) AS DOUBLE) / count(*) AS dow_mean
        |       FROM dd GROUP BY dow)
        |SELECT d, dd.dow, CAST(rev_dec AS DOUBLE) AS day_rev,
        |       round(dow_mean, 4) AS dow_mean,
        |       round(CAST(rev_dec AS DOUBLE) - dow_mean, 4) AS deviation,
        |       round(CAST(rev_dec AS DOUBLE) / dow_mean, 6) AS seasonal_index
        |FROM dd JOIN dm USING (dow)
        |ORDER BY d""".stripMargin,
    "q_chi2" ->
      """WITH o AS (SELECT o_orderpriority AS pri, o_orderstatus AS st FROM orders),
        |cells AS (SELECT pri, st, count(*) AS n FROM o GROUP BY pri, st),
        |rt AS (SELECT pri, count(*) AS r FROM o GROUP BY pri),
        |ct AS (SELECT st, count(*) AS c FROM o GROUP BY st),
        |t AS (SELECT count(*) AS total FROM o)
        |SELECT pri, st, n,
        |       round(CAST(r * c AS DOUBLE) / total, 6) AS expected,
        |       round((n - CAST(r * c AS DOUBLE) / total) *
        |             (n - CAST(r * c AS DOUBLE) / total) /
        |             (CAST(r * c AS DOUBLE) / total), 6) AS chi2_contrib
        |FROM cells JOIN rt USING (pri) JOIN ct USING (st), t
        |ORDER BY pri, st""".stripMargin,
    "q_outlier_mad" ->
      """WITH ev AS (SELECT event_type, value FROM events),
        |med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
        |        FROM ev GROUP BY event_type),
        |wm AS (SELECT ev.event_type, value, med, abs(value - med) AS resid
        |       FROM ev JOIN med USING (event_type)),
        |mad AS (SELECT event_type, quantile_cont(resid, 0.5) AS mad
        |        FROM wm GROUP BY event_type)
        |SELECT wm.event_type, count(*) AS n,
        |       round(min(med), 6) AS med,
        |       round(min(wm_mad), 6) AS mad,
        |       CAST(sum(CASE WHEN resid > 3.0 * wm_mad THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_outliers
        |FROM (SELECT wm.*, mad.mad AS wm_mad
        |      FROM wm JOIN mad USING (event_type)) wm
        |GROUP BY wm.event_type
        |ORDER BY wm.event_type""".stripMargin,
    "q_market_basket" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |no AS (SELECT count(DISTINCT ok) AS n_orders FROM li),
        |si AS (SELECT pk, count(*) AS n_item FROM li GROUP BY pk),
        |pr AS (SELECT a.pk AS p1, b.pk AS p2, count(*) AS n_pair
        |       FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |       GROUP BY a.pk, b.pk HAVING count(*) >= 2)
        |SELECT p1, p2, n_pair, s1.n_item AS n1, s2.n_item AS n2,
        |       round(CAST(n_pair AS DOUBLE) / n_orders, 6) AS support,
        |       round(CAST(n_pair AS DOUBLE) / s1.n_item, 6) AS confidence,
        |       round(CAST(n_pair * n_orders AS DOUBLE) / (s1.n_item * s2.n_item), 6) AS lift
        |FROM pr JOIN si s1 ON pr.p1 = s1.pk JOIN si s2 ON pr.p2 = s2.pk, no
        |ORDER BY lift DESC, p1, p2
        |LIMIT 50""".stripMargin,
    "q_benford" ->
      """WITH o AS (SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT)
        |                                      AS VARCHAR), 1, 1) AS INT) AS d
        |           FROM orders),
        |t AS (SELECT count(*) AS n_total FROM o)
        |SELECT d, count(*) AS n,
        |       round(CAST(count(*) AS DOUBLE) / n_total, 6) AS obs_frac,
        |       round(log10(1.0 + 1.0 / d), 6) AS benford_frac
        |FROM o, t GROUP BY d, n_total
        |ORDER BY d""".stripMargin,
    "q_regex_fns" ->
      """SELECT p_partkey,
        |       regexp_extract(p_name, '^([a-z]+)', 1) AS first_word,
        |       CAST(len(regexp_extract_all(p_name, '[aeiou]')) AS INT) AS n_vowels,
        |       regexp_replace(p_name, '[aeiou]', '', 'g') AS devoweled,
        |       array_to_string(string_split(p_name, ' '), '|') AS words,
        |       regexp_extract(p_brand, '([0-9]+)', 1) AS brand_digits,
        |       CAST(regexp_matches(p_type, 'BRASS$') AS INT) AS is_brass,
        |       regexp_replace(p_type, '^(\w+) (\w+)', '\2 \1') AS swapped
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q_transitions" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS t, event_type FROM events),
        |m AS (SELECT event_type,
        |             lag(event_type) OVER (PARTITION BY user_id ORDER BY t, event_id) AS prev
        |      FROM e),
        |c AS (SELECT prev AS from_type, event_type AS to_type, count(*) AS n
        |      FROM m WHERE prev IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |       CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY from_type) AS p
        |FROM c ORDER BY from_type, to_type""".stripMargin,
    // session definition mirrors q_sessionize (30-min gap, lag flag +
    // running sum); struct list_sort orders by (t, event_id) exactly as
    // Spark's array_sort over the same struct
    "q_top_paths" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS t, event_type FROM events),
        |f AS (SELECT *, CASE WHEN lag(t) OVER w IS NULL OR t - lag(t) OVER w > 1800000
        |                     THEN 1 ELSE 0 END AS new_sess
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
        |s AS (SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY t, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id FROM f),
        |p AS (SELECT user_id, sess_id,
        |        array_to_string(list_transform(
        |          list_slice(list_sort(list(struct_pack(t := t, event_id := event_id,
        |            event_type := event_type))), 1, 8),
        |          x -> x.event_type), '>') AS path
        |      FROM s GROUP BY user_id, sess_id)
        |SELECT path, count(*) AS n_sessions FROM p
        |GROUP BY path ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin,
    // bucket ids / counts integer-exact; ECDF gaps int/int doubles; PSI
    // terms DECIMAL(18,9)-quantized before the sum (association-free)
    "q_drift_ks" ->
      """WITH o AS (SELECT o_totalprice AS v,
        |              o_orderdate < TIMESTAMP '1998-01-01 00:00:00' AS early FROM orders),
        |s AS (SELECT min(v) AS mn, max(v) AS mx FROM o),
        |g AS (SELECT CAST(LEAST(floor((v - mn) / ((mx - mn) / 100)), 99) AS INTEGER) AS bucket,
        |             CAST(sum(CASE WHEN early THEN 1 ELSE 0 END) AS BIGINT) AS n_early,
        |             CAST(sum(CASE WHEN NOT early THEN 1 ELSE 0 END) AS BIGINT) AS n_late
        |      FROM o, s GROUP BY 1),
        |t AS (SELECT CAST(sum(n_early) AS BIGINT) AS tot_early,
        |             CAST(sum(n_late) AS BIGINT) AS tot_late FROM g),
        |c AS (SELECT bucket, n_early, n_late, tot_early, tot_late,
        |             abs(CAST(sum(n_early) OVER wc AS DOUBLE) / tot_early -
        |                 CAST(sum(n_late) OVER wc AS DOUBLE) / tot_late) AS gap,
        |             CAST(n_early + 1 AS DOUBLE) / (tot_early + 100) AS p_early,
        |             CAST(n_late + 1 AS DOUBLE) / (tot_late + 100) AS p_late
        |      FROM g, t
        |      WINDOW wc AS (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT round(max(gap), 6) AS ks,
        |       round(CAST(sum(CAST((p_early - p_late) * ln(p_early / p_late)
        |         AS DECIMAL(18,9))) AS DOUBLE), 6) AS psi,
        |       count(*) AS n_bins_hit, tot_early, tot_late
        |FROM c GROUP BY tot_early, tot_late""".stripMargin,
    "q_merge_intervals" ->
      """WITH iv AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS s,
        |         epoch_ms(ts) + (event_id % 7 + 1) * 60000 AS e
        |  FROM events),
        |m AS (
        |  SELECT user_id, event_id, s, e,
        |         max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS rm
        |  FROM iv),
        |g AS (
        |  SELECT user_id, s, e,
        |         sum(CASE WHEN rm IS NULL OR s > rm THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY user_id ORDER BY s, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
        |  FROM m)
        |SELECT user_id,
        |       CAST(min(s) AS BIGINT) AS span_start_ms,
        |       CAST(max(e) AS BIGINT) AS span_end_ms,
        |       count(*) AS n_events,
        |       CAST((max(e) - min(s)) // 1000 AS BIGINT) AS covered_s
        |FROM g GROUP BY user_id, span_id
        |ORDER BY user_id, span_start_ms""".stripMargin,
    "q_retention" ->
      """WITH first AS (
        |  SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
        |  FROM events GROUP BY user_id),
        |active AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk FROM events)
        |SELECT cohort_week,
        |       CAST(date_diff('day', cohort_week, wk) / 7 AS INTEGER) AS week_offset,
        |       count(DISTINCT a.user_id) AS n_users
        |FROM active a JOIN first f ON a.user_id = f.user_id
        |GROUP BY 1, 2 ORDER BY cohort_week, week_offset""".stripMargin,
    "q_profile" -> {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val rows = cols.map { c =>
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
           |       CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           |       count(DISTINCT $c) AS n_distinct,
           |       min($c) AS min_val, max($c) AS max_val,
           |       round(avg($c), 4) AS mean_val
           |FROM lineitem""".stripMargin
      }
      rows.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    },
    "q_scd2" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS t, event_id FROM events),
        |m AS (SELECT *, lag(event_type) OVER (PARTITION BY user_id ORDER BY t, event_id) AS prev
        |      FROM e),
        |c AS (SELECT user_id, event_type, t, event_id FROM m
        |      WHERE prev IS NULL OR prev <> event_type)
        |SELECT user_id, event_type, t AS valid_from_ms,
        |       lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id) - 1 AS valid_to_ms
        |FROM c ORDER BY user_id, valid_from_ms, event_type""".stripMargin,
    "q_histogram" ->
      """WITH s AS (SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx FROM orders),
        |b AS (
        |  SELECT CAST(LEAST(floor((o_totalprice - mn) / ((mx - mn) / 20)), 19) AS INTEGER) AS bucket
        |  FROM orders, s),
        |g AS (SELECT bucket, count(*) AS n FROM b GROUP BY bucket)
        |SELECT bucket,
        |       round(mn + bucket * ((mx - mn) / 20), 4) AS lo,
        |       round(mn + (bucket + 1) * ((mx - mn) / 20), 4) AS hi,
        |       n
        |FROM g, s ORDER BY bucket""".stripMargin,
    "q_corr" -> {
      val pairs = Seq(
        ("l_quantity", "l_extendedprice"),
        ("l_quantity", "l_discount"),
        ("l_extendedprice", "l_discount"))
      pairs.map { case (a, b) =>
        s"SELECT '$a' AS col_a, '$b' AS col_b, round(corr($a, $b), 6) AS pearson_r FROM lineitem"
      }.mkString("", "\nUNION ALL\n", "\nORDER BY col_a, col_b")
    },
    "q_pack_chars" ->
      """WITH d AS (
        |  SELECT doc_id, n_chars, substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket
        |  FROM documents),
        |c AS (
        |  SELECT bucket, doc_id, n_chars,
        |         sum(n_chars) OVER (PARTITION BY bucket ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM d)
        |SELECT bucket, CAST(floor((cum - n_chars) / 4096) AS BIGINT) AS seq_id,
        |       count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM c GROUP BY 1, 2 ORDER BY bucket, seq_id""".stripMargin,
    "q_funnel" ->
      """WITH v AS (SELECT user_id, epoch_ms(ts) AS v_ms FROM events WHERE event_type = 'view'),
        |p AS (SELECT user_id, epoch_ms(ts) AS p_ms FROM events WHERE event_type = 'purchase')
        |SELECT v.user_id AS user_id, count(*) AS n_view_purchase_pairs,
        |       count(DISTINCT p_ms) AS n_converted_purchases
        |FROM v JOIN p ON v.user_id = p.user_id
        |  AND p.p_ms >= v.v_ms AND p.p_ms <= v.v_ms + 3600000
        |GROUP BY v.user_id ORDER BY user_id""".stripMargin,
    "q_skew_agg" ->
      """SELECT l_returnflag,
        |       sum(l_quantity) AS sum_qty,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |       count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_string_fns" ->
      """SELECT c_custkey,
        |       upper(c_mktsegment) AS seg_up,
        |       lower(c_name) AS name_lo,
        |       substr(c_name, 10, 5) AS sub5,
        |       concat_ws('-', c_mktsegment, CAST(c_custkey AS VARCHAR)) AS joined,
        |       lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS padded,
        |       replace(c_name, 'Customer', 'Cust') AS repl,
        |       reverse(c_mktsegment) AS rev,
        |       CAST(length(c_name) AS INTEGER) AS len,
        |       CAST(strpos(c_name, '#') AS INTEGER) AS pos,
        |       left(c_name, 4) AS l4,
        |       right(c_name, 3) AS r3,
        |       repeat(substr(c_mktsegment, 1, 1), 3) AS rpt,
        |       translate(c_mktsegment, 'AEIOU', 'aeiou') AS transl,
        |       CAST(levenshtein(c_mktsegment, 'MACHINERY') AS INTEGER) AS lev
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q_date_fns" ->
      """SELECT o_orderkey,
        |       CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
        |       CAST(dayofyear(o_orderdate) AS INTEGER) AS doy,
        |       CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS plus3m,
        |       CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS INTEGER) AS days_to,
        |       last_day(CAST(o_orderdate AS DATE)) AS eom,
        |       date_trunc('month', o_orderdate) AS month_start,
        |       strftime(o_orderdate, '%Y-%m') AS ym
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_window_analytics" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |       lag(o_totalprice, 1) OVER w AS prev_price,
        |       lead(o_totalprice, 1) OVER w AS next_price,
        |       percent_rank() OVER w AS pr,
        |       cume_dist() OVER w AS cd,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER
        |         (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_star_join" ->
      """SELECT n_name,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q_bloom_join" ->
      """SELECT p_brand,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_size >= 45
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    // mirrors qCusum: integer cents, floor-division mu/allowance/
    // threshold, prefix-extremum closed form of the CUSUM recurrence
    "q_cusum" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d,
        |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS x
        |  FROM orders GROUP BY 1),
        |s AS (SELECT CAST(sum(x) AS BIGINT) // count(*) AS mu FROM daily),
        |c AS (SELECT d, x, mu,
        |             CAST(sum(x - mu - mu // 20) OVER (ORDER BY d) AS BIGINT) AS cp,
        |             CAST(sum(x - mu + mu // 20) OVER (ORDER BY d) AS BIGINT) AS cn
        |      FROM daily, s),
        |r AS (SELECT d, x, mu, cp, cn,
        |             CAST(cp - LEAST(0, min(cp) OVER (ORDER BY d)) AS BIGINT) AS cusum_pos,
        |             CAST(GREATEST(0, max(cn) OVER (ORDER BY d)) - cn AS BIGINT) AS cusum_neg
        |      FROM c)
        |SELECT d, x AS revenue_cents, cusum_pos, cusum_neg,
        |       (cusum_pos > mu // 2 OR cusum_neg > mu // 2) AS flag
        |FROM r ORDER BY d""".stripMargin,
    "q_acf" ->
      """WITH s AS (SELECT CAST(o_orderdate AS DATE) AS d,
        |                  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS v
        |           FROM orders GROUP BY 1),
        |l AS (SELECT CAST(unnest(range(1, 11)) AS INT) AS k)
        |SELECT k, round(corr(a.v, b.v), 6) AS acf, count(*) AS n_pairs
        |FROM l, s a, s b
        |WHERE a.d = b.d + to_days(l.k)
        |GROUP BY k ORDER BY k""".stripMargin,
    "q_skew_join" ->
      """SELECT s_nationkey,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,
    "q_gap_fill" ->
      """WITH hourly AS (
        |  SELECT user_id, date_trunc('hour', ts) AS h, count(*) AS n,
        |         sum(CAST(value AS DECIMAL(18,6))) AS hour_value
        |  FROM events GROUP BY 1, 2),
        |spine AS (
        |  SELECT user_id, unnest(generate_series(min(h), max(h), INTERVAL 1 HOUR)) AS h
        |  FROM hourly GROUP BY user_id)
        |SELECT s.user_id AS user_id, epoch_ms(s.h) AS hour_ms,
        |       COALESCE(e.n, 0) AS n_events,
        |       CAST(last_value(e.hour_value IGNORE NULLS) OVER
        |         (PARTITION BY s.user_id ORDER BY s.h
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS locf_value
        |FROM spine s LEFT JOIN hourly e ON s.user_id = e.user_id AND s.h = e.h
        |ORDER BY user_id, hour_ms""".stripMargin,
    "q_ntile" ->
      """SELECT decile, count(*) AS n, min(o_totalprice) AS lo, max(o_totalprice) AS hi
        |FROM (SELECT o_totalprice,
        |             CAST(ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS INTEGER) AS decile
        |      FROM orders)
        |GROUP BY decile ORDER BY decile""".stripMargin,
    "q_window_range" ->
      """SELECT event_id, user_id,
        |       CAST(count(*) OVER w AS INTEGER) AS n_1h,
        |       CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sum_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
        |             RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
        |                        (l_returnflag, l_linestatus))
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q_posexplode" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |           FROM documents WHERE doc_id < 50)
        |SELECT doc_id, CAST(unnest(range(len(w))) AS INTEGER) AS pos,
        |       unnest(w) AS token
        |FROM t ORDER BY doc_id, pos""".stripMargin,
    "q_full_join" ->
      """WITH c AS (SELECT c_nationkey AS ck, count(*) AS n_cust FROM customer
        |           WHERE c_nationkey >= 5 GROUP BY 1),
        |     s AS (SELECT s_nationkey AS sk, count(*) AS n_supp FROM supplier
        |           WHERE s_nationkey < 20 GROUP BY 1)
        |SELECT coalesce(ck, sk) AS nation,
        |       coalesce(n_cust, 0) AS n_cust, coalesce(n_supp, 0) AS n_supp
        |FROM c FULL JOIN s ON ck = sk ORDER BY nation""".stripMargin,
    "q_exists_subquery" ->
      """SELECT o_orderkey, o_totalprice FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49)
        |ORDER BY o_orderkey""".stripMargin,
    "q_scalar_subquery" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > 0.9 * (SELECT max(o_totalprice) FROM orders)
        |ORDER BY o_orderkey""".stripMargin,
    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    // both sketch halves recomputed exactly: HLL registers via the
    // shared estimateCtes machinery, the histogram median via the same
    // integer-cents buckets and (n+1)/2 rank rule as the Spark side
    "q_approx_sketch" ->
      s"""WITH hin AS (
         |  SELECT l_returnflag, l_partkey AS uid FROM lineitem
         |  WHERE l_partkey IS NOT NULL),
         |${graft.functions.HllSketch.estimateCtes("l_returnflag")},
         |cents AS (
         |  SELECT l_returnflag,
         |         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 10000 AS bucket
         |  FROM lineitem),
         |hist AS (SELECT l_returnflag, bucket, count(*) AS cnt FROM cents GROUP BY 1, 2),
         |chist AS (SELECT l_returnflag, bucket,
         |        sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY bucket) AS cum,
         |        sum(cnt) OVER (PARTITION BY l_returnflag) AS n
         |      FROM hist),
         |med AS (SELECT l_returnflag, min(bucket) AS mb FROM chist
         |        WHERE cum >= (n + 1) // 2 GROUP BY l_returnflag)
         |SELECT m.l_returnflag, hest.est_users AS approx_parts,
         |       CAST(m.mb * 100 + 50 AS DOUBLE) AS approx_median_price
         |FROM med m JOIN hest ON hest.l_returnflag = m.l_returnflag
         |ORDER BY m.l_returnflag""".stripMargin,
    "q_cube" ->
      """SELECT o_orderstatus, CAST(year(o_orderdate) AS INTEGER) AS yr, count(*) AS n
        |FROM orders GROUP BY CUBE(o_orderstatus, CAST(year(o_orderdate) AS INTEGER))
        |ORDER BY o_orderstatus NULLS FIRST, yr NULLS FIRST""".stripMargin,
    "q_percentile" ->
      """SELECT l_returnflag,
        |       round(quantile_cont(l_quantity, 0.5), 4) AS q50,
        |       round(quantile_cont(l_quantity, 0.95), 4) AS q95
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_unpivot" ->
      """WITH p AS (
        |  SELECT user_id, CAST(ts AS DATE) AS event_date,
        |         max(CASE WHEN event_type = 'click' THEN value END) AS click,
        |         max(CASE WHEN event_type = 'error' THEN value END) AS error,
        |         max(CASE WHEN event_type = 'purchase' THEN value END) AS purchase,
        |         max(CASE WHEN event_type = 'signup' THEN value END) AS signup,
        |         max(CASE WHEN event_type = 'view' THEN value END) AS view
        |  FROM events GROUP BY user_id, CAST(ts AS DATE))
        |SELECT user_id, event_date, event_type, max_value FROM (
        |  SELECT user_id, event_date, 'click' AS event_type, click AS max_value FROM p
        |  UNION ALL SELECT user_id, event_date, 'error', error FROM p
        |  UNION ALL SELECT user_id, event_date, 'purchase', purchase FROM p
        |  UNION ALL SELECT user_id, event_date, 'signup', signup FROM p
        |  UNION ALL SELECT user_id, event_date, 'view', view FROM p) u
        |WHERE max_value IS NOT NULL
        |ORDER BY user_id, event_date, event_type""".stripMargin,
    "q_count_distinct" ->
      """SELECT l_returnflag,
        |       count(DISTINCT l_partkey) AS n_parts,
        |       count(DISTINCT l_suppkey) AS n_supps
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // full register-level mirror of the deterministic HLL (see
    // functions.HllSketch): the oracle sketches RAW rows per scope while
    // the engine merges pre-built per-type sketches for ALL — equality
    // proves the union algebra, not just the estimates
    "q_hll_union" ->
      s"""WITH hin AS (
         |  SELECT event_type AS scope, user_id AS uid FROM events
         |  WHERE user_id IS NOT NULL
         |  UNION ALL
         |  SELECT 'ALL', user_id FROM events WHERE user_id IS NOT NULL),
         |${graft.functions.HllSketch.estimateCtes("scope")},
         |nex AS (
         |  SELECT event_type AS scope, count(DISTINCT user_id) AS n_exact
         |  FROM events GROUP BY 1
         |  UNION ALL
         |  SELECT 'ALL', count(DISTINCT user_id) FROM events)
         |SELECT n.scope, coalesce(hest.est_users, 0) AS est_users, n.n_exact
         |FROM nex n LEFT JOIN hest ON hest.scope IS NOT DISTINCT FROM n.scope
         |ORDER BY n.scope""".stripMargin,
    "q_count" -> "SELECT count(*) AS n FROM lineitem",
    // the oracle computes the ALL scope DIRECTLY from raw rows (the
    // UNION ALL group) while the Spark side derives it only from
    // merging per-type bucket counts — hash-green proves the merge
    "q_hist_view" ->
      """WITH ev AS (
        |  SELECT event_type, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL),
        |g AS (SELECT event_type AS scope, cents FROM ev
        |      UNION ALL SELECT 'ALL', cents FROM ev),
        |h AS (SELECT scope, cents // 500 AS bucket, count(*) AS cnt FROM g GROUP BY 1, 2),
        |m AS (SELECT scope, bucket,
        |        sum(cnt) OVER (PARTITION BY scope ORDER BY bucket) AS cum,
        |        sum(cnt) OVER (PARTITION BY scope) AS n
        |      FROM h),
        |med AS (SELECT scope, CAST(min(n) AS BIGINT) AS n_values, min(bucket) AS mb
        |        FROM m WHERE cum >= (n + 1) // 2 GROUP BY scope),
        |eh AS (SELECT scope, cents AS bucket, count(*) AS cnt FROM g GROUP BY 1, 2),
        |em AS (SELECT scope, bucket,
        |        sum(cnt) OVER (PARTITION BY scope ORDER BY bucket) AS cum,
        |        sum(cnt) OVER (PARTITION BY scope) AS n
        |      FROM eh),
        |emed AS (SELECT scope, min(bucket) AS mc
        |         FROM em WHERE cum >= (n + 1) // 2 GROUP BY scope)
        |SELECT med.scope, n_values,
        |       CAST(mb * 500 + 250 AS DOUBLE) / 100 AS approx_median,
        |       CAST(mc AS DOUBLE) / 100 AS exact_median
        |FROM med JOIN emed USING (scope) ORDER BY med.scope""".stripMargin,
    // the dedicated-pass aggregate the observed (single-scan) metrics
    // must equal — proving the piggy-backed counters are exact
    "q_observe" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  min(epoch_ms(ts)) AS min_ts_ms,
        |  max(epoch_ms(ts)) AS max_ts_ms
        |FROM events""".stripMargin,
    "q_proj_rename" ->
      """SELECT l_orderkey AS order_key, l_linenumber AS line_no, l_quantity AS qty,
        |       l_extendedprice AS price, l_returnflag AS flag
        |FROM lineitem ORDER BY order_key, line_no""".stripMargin,
    "q_distinct_extract" ->
      """SELECT DISTINCT o_orderstatus AS status, o_orderpriority AS priority,
        |       CAST(year(o_orderdate) AS INTEGER) AS yr,
        |       CAST(month(o_orderdate) AS INTEGER) AS mo
        |FROM orders ORDER BY status, priority, yr, mo""".stripMargin,
    "q_time_dim" ->
      """SELECT DISTINCT CAST(hour(ts) AS INTEGER) AS hr, CAST(day(ts) AS INTEGER) AS dom,
        |       CAST(weekofyear(ts) AS INTEGER) AS wk, CAST(month(ts) AS INTEGER) AS mo,
        |       CAST(year(ts) AS INTEGER) AS yr, CAST(dayofweek(ts) + 1 AS INTEGER) AS dow
        |FROM events ORDER BY yr, mo, dom, hr, wk, dow""".stripMargin,
    "q_pivot" ->
      """SELECT user_id, CAST(ts AS DATE) AS event_date,
        |       max(CASE WHEN event_type = 'click' THEN value END) AS click,
        |       max(CASE WHEN event_type = 'error' THEN value END) AS error,
        |       max(CASE WHEN event_type = 'purchase' THEN value END) AS purchase,
        |       max(CASE WHEN event_type = 'signup' THEN value END) AS signup,
        |       max(CASE WHEN event_type = 'view' THEN value END) AS view
        |FROM events GROUP BY user_id, CAST(ts AS DATE)
        |ORDER BY user_id, event_date""".stripMargin,
    "q_left_join" ->
      """SELECT n_nationkey, n_name, r_name
        |FROM nation LEFT JOIN region ON n_regionkey = r_regionkey
        |ORDER BY n_nationkey""".stripMargin,
    "q_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |       sum(l_quantity) AS sum_qty,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |       round(avg(l_quantity), 2) AS avg_qty,
        |       count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_semi_join" ->
      """SELECT l_orderkey, l_linenumber, l_partkey FROM lineitem
        |WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size > 25)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_null_count" ->
      """SELECT count(*) - count(click) AS click_nulls,
        |       count(*) - count(error) AS error_nulls,
        |       count(*) - count(purchase) AS purchase_nulls,
        |       count(*) - count(signup) AS signup_nulls,
        |       count(*) - count(view) AS view_nulls
        |FROM (SELECT user_id, CAST(ts AS DATE) AS event_date,
        |             max(CASE WHEN event_type = 'click' THEN value END) AS click,
        |             max(CASE WHEN event_type = 'error' THEN value END) AS error,
        |             max(CASE WHEN event_type = 'purchase' THEN value END) AS purchase,
        |             max(CASE WHEN event_type = 'signup' THEN value END) AS signup,
        |             max(CASE WHEN event_type = 'view' THEN value END) AS view
        |      FROM events GROUP BY user_id, CAST(ts AS DATE)) p""".stripMargin,
    "q_anti_join" ->
      """SELECT count(*) AS n_customers_without_orders FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""".stripMargin,
    "q_sum_parts" ->
      """SELECT count(*) AS n_mismatch FROM (
        |  SELECT l_extendedprice, l_quantity + l_discount + l_tax AS sum_of_parts
        |  FROM lineitem) main
        |WHERE main.l_extendedprice != main.sum_of_parts""".stripMargin,
    "q_window_topk" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         CAST(row_number() OVER (PARTITION BY o_custkey
        |              ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "q_topk_global" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100""".stripMargin,
    "q_set_ops" ->
      """SELECT k FROM (
        |  SELECT k FROM (SELECT c_nationkey AS k FROM customer
        |                 INTERSECT SELECT s_nationkey AS k FROM supplier) i
        |  UNION
        |  SELECT k FROM (SELECT c_nationkey AS k FROM customer
        |                 EXCEPT SELECT s_nationkey AS k FROM supplier) e) u
        |ORDER BY k""".stripMargin,
    "q_json_extract" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |FROM events ORDER BY event_id""".stripMargin,
    "q_parse_date" ->
      """SELECT o_orderkey,
        |       CAST(strptime(strftime(o_orderdate, '%m/%d/%Y'), '%m/%d/%Y') AS DATE) AS d
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    // trailing-frame z-score; DECIMAL frame sums keep both engines'
    // mean/variance inputs bit-identical (see qAnomaly scaladoc)
    "q_anomaly" ->
      """WITH e AS (
        |  SELECT user_id, event_id, ts, value,
        |         CAST(value AS DECIMAL(18,2)) AS vd FROM events),
        |f AS (
        |  SELECT user_id, event_id, value,
        |         count(vd) OVER w AS n,
        |         CAST(sum(vd) OVER w AS DOUBLE) AS s1,
        |         CAST(sum(vd * vd) OVER w AS DOUBLE) AS s2
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |                      ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)),
        |g AS (
        |  SELECT *, s1 / n AS mean, (s2 - s1 * s1 / n) / (n - 1) AS variance
        |  FROM f WHERE n >= 5),
        |h AS (
        |  SELECT *, (value - mean) / sqrt(variance) AS z FROM g WHERE variance > 0)
        |SELECT user_id, event_id, value,
        |       mean AS trailing_mean, z
        |FROM h WHERE abs(z) > 3 ORDER BY user_id, event_id""".stripMargin,
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_count" -> (qCount _),
    "q_observe" -> (graft.qc.Checks.qObserve _),
    "q_proj_rename" -> (qProjRename _),
    "q_distinct_extract" -> (qDistinctExtract _),
    "q_time_dim" -> (qTimeDim _),
    "q_pivot" -> (qPivot _),
    "q_left_join" -> (qLeftJoin _),
    "q_agg" -> (qAgg _),
    "q_semi_join" -> (qSemiJoin _),
    "q_null_count" -> (qNullCount _),
    "q_anti_join" -> (qAntiJoin _),
    "q_sum_parts" -> (qSumParts _),
    "q_window_topk" -> (qWindowTopk _),
    "q_topk_global" -> (qTopkGlobal _),
    "q_set_ops" -> (qSetOps _),
    "q_json_extract" -> (qJsonExtract _),
    "q_parse_date" -> (qParseDate _),
    "q_rollup" -> (qRollup _),
    "q_cube" -> (qCube _),
    "q_percentile" -> (qPercentile _),
    "q_count_distinct" -> (qCountDistinct _),
    "q_approx_sketch" -> (qApproxSketch _),
    "q_unpivot" -> (qUnpivot _),
    "q_full_join" -> (qFullJoin _),
    "q_exists_subquery" -> (qExistsSubquery _),
    "q_scalar_subquery" -> (qScalarSubquery _),
    "q_grouping_sets" -> (qGroupingSets _),
    "q_posexplode" -> (qPosexplode _),
    "q_window_range" -> (qWindowRange _),
    "q_funnel" -> (qFunnel _),
    "q_anomaly" -> (qAnomaly _),
    "q_ntile" -> (qNtile _),
    "q_skew_agg" -> (qSkewAgg _),
    "q_skew_join" -> (qSkewJoin _),
    "q_gap_fill" -> (qGapFill _),
    "q_retention" -> (qRetention _),
    "q_profile" -> (qProfile _),
    "q_pack_chars" -> (qPackChars _),
    "q_histogram" -> (qHistogram _),
    "q_corr" -> (qCorr _),
    "q_scd2" -> (qScd2 _),
    "q_star_join" -> (qStarJoin _),
    "q_bloom_join" -> (qBloomJoin _),
    "q_acf" -> (qAcf _),
    "q_cusum" -> (qCusum _),
    "q_window_analytics" -> (qWindowAnalytics _),
    "q_transitions" -> (qTransitions _),
    "q_top_paths" -> (qTopPaths _),
    "q_drift_ks" -> (qDriftKs _),
    "q_merge_intervals" -> (qMergeIntervals _),
    "q_zorder" -> (qZorder _),
    "q_skyline" -> (qSkyline _),
    "q_decay" -> (qDecay _),
    "q_array_fns" -> (qArrayFns _),
    "q_regex_fns" -> (qRegexFns _),
    "q_market_basket" -> (qMarketBasket _),
    "q_benford" -> (qBenford _),
    "q_chi2" -> (qChi2 _),
    "q_outlier_mad" -> (qOutlierMad _),
    "q_latest" -> (qLatest _),
    "q_seasonality" -> (qSeasonality _),
    "q_string_fns" -> (qStringFns _),
    "q_date_fns" -> (qDateFns _),
    "q_hll_union" -> (qHllUnion _),
    "q_hist_view" -> (qHistView _),
  )
}

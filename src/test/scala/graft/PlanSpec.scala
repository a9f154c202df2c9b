package graft

import graft.queries.Parity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution

/** Physical-plan assertions: the properties that make these queries hold
  * up at 100 TB — scan pruning/pushdown, broadcast join selection,
  * whole-stage codegen, top-k lowering — asserted against
  * explain("formatted") output so regressions fail loudly.
  */
class PlanSpec extends SparkSuite {
  val dir = "/root/testdata/sf0.001"

  def planOf(df: DataFrame): String = {
    val qe: QueryExecution = df.queryExecution
    qe.explainString(org.apache.spark.sql.execution.FormattedMode)
  }

  test("projection prunes the parquet scan to selected columns only") {
    val p = planOf(Parity.qProjRename(spark, dir))
    assert(p.contains("ReadSchema"))
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!read.contains("l_discount"), s"unused column not pruned: $read")
    assert(read.contains("l_orderkey"))
  }

  test("filter is pushed down to the scan") {
    val p = planOf(Parity.qAgg(spark, dir))
    assert(p.contains("PushedFilters"), "expected parquet PushedFilters")
    val pushed = p.linesIterator.find(_.contains("PushedFilters")).get
    assert(pushed.contains("l_shipdate"), s"shipdate filter not pushed: $pushed")
  }

  test("small-dimension left join broadcasts (no shuffle of the fact side)") {
    val p = planOf(Parity.qLeftJoin(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("semi-join executes as BroadcastHashJoin LeftSemi") {
    val p = planOf(Parity.qSemiJoin(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("LeftSemi"), p)
  }

  test("global top-k lowers to TakeOrderedAndProject (no full sort)") {
    val p = planOf(Parity.qTopkGlobal(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("window-analytics battery: one exchange, one sort for every function") {
    val p = planOf(Parity.qWindowAnalytics(spark, dir))
    val body = p.substring(0, p.indexOf("(1) Scan"))
    // all five analytic functions share the (o_custkey, order) spec: the
    // partition exchange happens once; the final output orderBy is the
    // only other sort
    val exchanges = body.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 2, s"expected window + output-order exchanges only:\n$body")
    val sorts = body.linesIterator.count(l => l.contains("Sort (") || l.contains("Sort ["))
    assert(sorts <= 2, s"one window sort + one output sort:\n$body")
  }

  test("star join: dimension chain broadcasts, order-date filter reaches the scan") {
    val p = planOf(Parity.qStarJoin(spark, dir))
    // the nation chain is force-broadcast; at test SF the stats make the
    // corpus-scaling sides (customer/supplier) broadcast too — at 100 TB
    // those degrade to shuffle joins by design (no broadcast() hint)
    val nBroadcast = p.linesIterator.count(_.contains("BroadcastHashJoin"))
    assert(nBroadcast >= 3, s"expected >=3 broadcast joins at test SF, got $nBroadcast:\n$p")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString("\n")
    assert(pushed.contains("o_orderdate"), s"order-date filter not pushed: $pushed")
  }

  test("aggregations use two-phase hash aggregation (map-side partials)") {
    val p = planOf(Parity.qAgg(spark, dir))
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial"), s"expected partial aggregation phase: $p")
  }

  test("flagship aggregation runs inside whole-stage codegen") {
    // under AQE codegen markers appear on the final (post-execution) plan
    val df = Parity.qAgg(spark, dir)
    df.collect()
    val p = planOf(df)
    assert(p.contains("isFinalPlan=true"), p)
    assert(p.contains("* HashAggregate"), s"aggregate not codegen'd:\n$p")
  }

  test("native sketch expressions stay inside whole-stage codegen") {
    val df = ext.Dedup.simhashTable(Tables.documents(spark, dir))
    val p = planOf(df)
    // '*' prefix = node participates in whole-stage codegen
    assert(p.contains("* Project"), p)
    assert(p.contains("simhash"), p)
  }

  test("pivot with explicit values is a single aggregate, no distinct job") {
    val p = planOf(Parity.qPivot(spark, dir))
    // one partial + one final HashAggregate pair; pivot lowered to
    // max(CASE WHEN ...) so no extra stage computing distinct pivot values
    assert(p.contains("HashAggregate"))
    assert(!p.toLowerCase.contains("collectlimit"), p)
  }

  test("correlated EXISTS decorrelates to a semi join, not per-row subqueries") {
    val p = planOf(Parity.qExistsSubquery(spark, dir))
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("runtime bloom filter prunes the probe side of a selective shuffle join") {
    // 100 TB shape: a selective dim filter on one side of a fact-fact
    // shuffle join should inject a bloom filter into the probe side's
    // scan stage, cutting shuffled bytes before the exchange. Thresholds
    // are tuned down because the test tables are tiny; the optimizer
    // feature (and this assertion) is what matters.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    import org.apache.spark.sql.functions.col
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val orders = Tables.orders(spark, dir)
        .filter(col("o_orderstatus") === "F" && col("o_totalprice") < 1000.0)
      val li = Tables.lineitem(spark, dir)
      val joined = li.join(orders, col("l_orderkey") === col("o_orderkey"))
        .select("l_orderkey", "l_quantity", "o_totalprice")
      val p = planOf(joined)
      // injected filter shows as might_contain(<bloom subquery>, xxhash64(key))
      // on the probe side's scan-stage Filter
      assert(p.contains("might_contain"), s"no runtime bloom filter injected:\n$p")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("curation is a narrow pipeline: only the dedup window and final sort shuffle") {
    val p = planOf(ext.Curation.qCurate(spark, dir))
    // quality/langid/split are pure maps fused into the scan stage; the
    // only exchanges are the window's hash partitioning and the output
    // range sort — no joins, no extra aggregations
    val exchanges = p.linesIterator.count(l => l.contains("Exchange") && l.contains("("))
    assert(exchanges <= 4, s"expected at most window+sort exchanges, got $exchanges:\n$p")
    assert(!p.contains("Join"), s"curation must not join:\n$p")
  }

  // formatted plans print each node twice (tree line + "(n) Node" detail
  // header); counting the headers counts each physical node exactly once
  private def nodeCount(p: String, node: String): Int =
    p.linesIterator.count(_.matches(s".*\\(\\d+\\) $node\\b.*"))

  test("chunking is a map-side fan-out: one exchange (output order), no join, no agg") {
    val p = planOf(ext.Text.textChunks(spark, dir))
    val exchanges = nodeCount(p, "Exchange")
    assert(exchanges === 1, s"expected only the output-order exchange, got $exchanges:\n$p")
    assert(!p.contains("Join") && !p.contains("HashAggregate"), p)
  }

  test("profile computes all column stats from ONE scan and one aggregation") {
    val p = planOf(queries.Parity.qProfile(spark, dir))
    val scans = nodeCount(p, "Scan parquet")
    assert(scans === 1, s"expected a single scan, got $scans:\n$p")
    // single two-phase aggregate (multi-distinct plans through one
    // Expand), then the unpivot Generate — never one job per column
    val exchanges = nodeCount(p, "Exchange")
    assert(exchanges <= 2, s"expected partial/final agg exchanges only, got $exchanges:\n$p")
  }

  test("IVFADC probes and ADC tables broadcast; top-k is partial before the exchange") {
    val p = planOf(ext.Pq.annIvfPqSearch(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"probe/table joins must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus must never shuffle for the join:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"per-query top-k must partially apply before the exchange:\n$p")
  }

  test("span dedup: position fan-out is map-side, only the hash agg + output sort shuffle") {
    val p = planOf(ext.Dedup.dedupSpans(spark, dir))
    // Generate (position explode) + anchor filter + md5 all fuse before
    // the first partial aggregate, so per-CHAR rows never cross a
    // shuffle; the distinct count plans as two agg levels — partial on
    // (span_hash, doc_id) collapses within-doc repeats map-side, then
    // the span-level merge — plus the output ordering: 3 exchanges, all
    // carrying window-or-coarser rows
    assert(nodeCount(p, "Generate") === 1, p)
    assert(!p.contains("Join"), s"span dedup must not join:\n$p")
    val exchanges = nodeCount(p, "Exchange")
    assert(exchanges <= 3, s"expected distinct-agg + span-agg + sort exchanges, got $exchanges:\n$p")
    val aggs = nodeCount(p, "HashAggregate")
    assert(aggs >= 3, s"expected partial distinct + two-phase span aggregation:\n$p")
    // the generate must sit below every exchange (fused into the scan
    // stage): formatted detail ordinals ascend from the leaf, so the
    // Generate detail header precedes the first Exchange's
    val lines = p.linesIterator.toSeq
    val genLine = lines.indexWhere(_.matches("\\(\\d+\\) Generate\\b.*"))
    val firstExchange = lines.indexWhere(_.matches("\\(\\d+\\) Exchange\\b.*"))
    assert(genLine >= 0 && firstExchange >= 0 && genLine < firstExchange,
      s"Generate must be upstream of every exchange (gen@$genLine, exch@$firstExchange)")
  }

  test("anomaly detection: one shuffle on user_id computes every trailing frame") {
    val p = planOf(queries.Parity.qAnomaly(spark, dir))
    assert(nodeCount(p, "Window") === 1, s"all three frame stats in ONE window pass:\n$p")
    // user_id hash exchange + output range sort; no joins, no aggregates
    assert(!p.contains("Join") && !p.contains("HashAggregate"), p)
    val exchanges = nodeCount(p, "Exchange")
    assert(exchanges <= 2, s"expected window + sort exchanges only, got $exchanges:\n$p")
  }

  test("mixture weights: corpus scans once; normalization stays domain-sized") {
    val p = planOf(ext.Curation.mixtureWeights(
      Tables.documents(spark, dir), 0.5))
    // corpus-sized work: ONE scan into one two-phase groupBy(source);
    // the normalization windows run on the #domains-row result (a naive
    // self-crossJoin formulation re-scans the corpus once per total)
    assert(nodeCount(p, "Scan parquet") === 1, s"corpus must scan once:\n$p")
    assert(!p.contains("Join"), s"no joins — totals come from domain-sized windows:\n$p")
    val exchanges = nodeCount(p, "Exchange")
    assert(exchanges <= 3, s"agg + single-partition window + sort, got $exchanges:\n$p")
  }

  test("stream dedup batch form: dedup agg then type agg, both two-phase") {
    val p = planOf(streaming.Streaming.qStreamDedup(spark, dir))
    // dropDuplicates lowers to a two-phase aggregate on event_id (sort-
    // based here: the carried string payload pushes it off the hash-agg
    // fast path, partial dedup still runs map-side before the exchange);
    // totals are a two-phase hash aggregate on event_type — no joins
    assert(!p.contains("Join"), p)
    val aggs = nodeCount(p, "HashAggregate") + nodeCount(p, "SortAggregate")
    assert(aggs >= 4, s"expected two-phase dedup agg + two-phase type agg:\n$p")
  }

  test("packing manifest: broadcast base join, partitioned window, 2-col scan") {
    val p = planOf(ext.Packing.packSequences(Tables.documents(spark, dir)))
    assert(p.contains("BroadcastHashJoin"), "bucket bases must broadcast:\n" + p)
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(read.contains("doc_id") && read.contains("text") && !read.contains("source"),
      s"scan must read only doc_id+text: $read")
    // the running-sum window is partitioned on bucket (never global)
    assert(!p.contains("windowspecdefinition(doc_id#"),
      "window must not be keyed on the global order alone:\n" + p)
  }

  test("image dedup: chunk-bucket joins only, no cartesian product") {
    val p = planOf(ext.Multimodal.imageDedup(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "candidate generation must be an equi join:\n" + p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
  }

  test("triangle census: every join is an equi join on oriented edges") {
    val edges = ext.Dedup.dedupMinhash(spark, dir)
      .select(org.apache.spark.sql.functions.col("doc_a").as("u"),
        org.apache.spark.sql.functions.col("doc_b").as("v"))
    val p = planOf(ext.Cluster.triangleStats(edges))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "wedge/closing joins must be equi joins:\n" + p)
  }

  test("mixture expansion: weights broadcast, expansion fused before the sort") {
    val p = planOf(ext.Curation.mixtureExpand(Tables.documents(spark, dir)))
    assert(p.contains("BroadcastHashJoin"), "domain weight table must broadcast:\n" + p)
    assert(p.contains("Generate"), "explode must appear as Generate:\n" + p)
  }

  test("z-order layout: bounds broadcast, bucket agg is the only data shuffle") {
    val p = planOf(Parity.qZorder(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "global bounds must broadcast, not shuffle:\n" + p)
    // exactly one hashpartitioning exchange of the fact rows (the
    // zbucket groupBy); the final orderBy adds one range exchange
    val hashEx = p.linesIterator.count(l =>
      l.trim.startsWith("Arguments: hashpartitioning"))
    assert(hashEx === 1, s"expected 1 hash exchange, got $hashEx:\n" + p)
  }

  test("skyline: exact window runs after bucket-bound pruning, fact join broadcasts") {
    val p = planOf(Parity.qSkyline(spark, dir))
    assert(p.contains("BroadcastHashJoin"), "frontier must broadcast to the fact:\n" + p)
    // the per-price aggregate is two-phase (partial before exchange)
    assert(p.contains("HashAggregate"), p)
  }

  test("market basket: pair self-join is a co-partitioned equi join, no forced dim broadcast") {
    val p = planOf(Parity.qMarketBasket(spark, dir))
    assert(!p.contains("CartesianProduct"),
      "pair generation must join on the basket key:\n" + p)
    // `singles` scales with the part catalog, so the query must NOT force
    // a broadcast HINT on it (statistics-driven broadcasts are fine — they
    // adapt with data size; a hint overrides AQE at any size). Only the
    // 1-row nOrders aggregate carries a hint.
    val df = Parity.qMarketBasket(spark, dir)
    val hints = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.size <= 1, s"only nOrders may be hinted, got ${hints.size}:\n" + p)
    assert(p.contains("AdaptiveSparkPlan"),
      "AQE must be on so the singles join can become broadcast at runtime:\n" + p)
  }

  test("domain cap: count/flag joins unhinted (domain cardinality scales), never cartesian") {
    val df = graft.ext.Curation.qDomainCap(spark, dir)
    val p = planOf(df)
    assert(!p.contains("CartesianProduct"), p)
    // the per-key count and deficient-flag tables are #domains-sized —
    // corpus-scaling at web scale — so no hint may pin them to broadcast
    val hints = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.isEmpty, s"cap joins must stay unhinted, got ${hints.size}:\n" + p)
    assert(p.contains("AdaptiveSparkPlan"), p)
  }

  test("shuffle shards: one hash exchange for the shard aggregate, partials map-side") {
    val p = planOf(graft.ext.Curation.qShuffleShards(spark, dir))
    val hashEx = p.linesIterator.count(l =>
      l.trim.startsWith("Arguments: hashpartitioning"))
    assert(hashEx === 1, s"expected 1 hash exchange, got $hashEx:\n" + p)
    // min_by over the string hash forces SortAggregate (string buffers
    // aren't UnsafeRow-mutable) — the load-bearing property is that the
    // partial aggregate still runs MAP-SIDE, so the exchange carries 8
    // rows per task, not the corpus
    assert(p.contains("partial_min_by"), "shard partials must aggregate map-side:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("text_drift: everything past the checkpointed counts joins by broadcast") {
    // the (source, tok) table is localCheckpointed at sources x (V+1)
    // rows; the plan over it must stay broadcast-only — a sort-merge
    // join here would mean Spark thinks some side is corpus-sized
    val p = planOf(ext.Text.textDrift(spark, dir))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "drift's bounded frames must broadcast:\n" + p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("dedup_novelty: pair-free — equi joins only, two scans, two-phase aggs") {
    val p = planOf(ext.Dedup.dedupNovelty(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "novelty must never form a non-equi join:\n" + p)
    // grams feeds both the df aggregate and the join probe: exactly two
    // scans of documents, nothing else
    assert(nodeCount(p, "Scan parquet") === 2, p)
    // the df aggregate combines map-side before its exchange
    assert(p.contains("partial_count"), "df partials must aggregate map-side:\n" + p)
  }

  test("q_approx_sketch: HLL registers aggregate two-phase; no cartesian anywhere") {
    val p = planOf(Parity.qApproxSketch(spark, dir))
    // TypedImperativeAggregate plans as ObjectHashAggregate — partial
    // AND final, proving sketches combine map-side (the property that
    // makes the distinct estimate one-pass at 100 TB)
    assert(nodeCount(p, "ObjectHashAggregate") >= 2,
      "HLL must aggregate partial+final:\n" + p)
    assert(nodeCount(p, "Scan parquet") === 2, p) // est branch + histogram branch
    assert(!p.contains("CartesianProduct"), p)
  }

  test("readability: pure map over a pruned 2-column scan, no aggregate or join") {
    val p = planOf(graft.ext.Text.textReadability(spark, dir))
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(read.contains("doc_id") && read.contains("text") && !read.contains("source"),
      s"scan must read only doc_id/text: $read")
    assert(!p.contains("HashAggregate") && !p.contains("Join"), p)
    val hashEx = p.linesIterator.count(l =>
      l.trim.startsWith("Arguments: hashpartitioning"))
    assert(hashEx === 0, s"no shuffle but the output range sort:\n" + p)
  }

  test("merge-intervals: one shuffle on user_id serves both windows and the groupBy") {
    val p = planOf(Parity.qMergeIntervals(spark, dir))
    val hashEx = p.linesIterator.count(l =>
      l.trim.startsWith("Arguments: hashpartitioning"))
    assert(hashEx === 1, s"expected 1 hash exchange, got $hashEx:\n" + p)
  }

  test("MAD outliers: per-group medians broadcast back, no fact-side re-shuffle join") {
    val p = planOf(Parity.qOutlierMad(spark, dir))
    assert(p.contains("BroadcastHashJoin"), "median tables must broadcast:\n" + p)
    assert(!p.contains("SortMergeJoin"), "fact must not shuffle for the median join:\n" + p)
  }

  test("bloom join: might_contain screens the fact scan before a broadcast confirm join") {
    val p = planOf(Parity.qBloomJoin(spark, dir))
    assert(p.contains("might_contain"), "bloom screen must be in the fact-side filter:\n" + p)
    assert(p.contains("BroadcastHashJoin"), "confirm join must broadcast the dim:\n" + p)
    // the screen must sit in the lineitem branch (scan side), not above
    // the join: in formatted explain the join's left input subtree is
    // printed before the join's own details, and the only Filter there
    // carries the might_contain
    val tree = p.substring(0, p.indexOf("(1) Scan"))
    val joinLine = tree.linesIterator.indexWhere(_.contains("BroadcastHashJoin"))
    val filterLine = tree.linesIterator.indexWhere(_.contains("Filter"))
    assert(joinLine >= 0 && filterLine > joinLine,
      "screen filter should be below the join in the tree:\n" + p)
  }

  test("acf: lag spine broadcasts; the self-join on shifted dates is a hash equi join") {
    val p = planOf(Parity.qAcf(spark, dir))
    val tree = p.substring(0, p.indexOf("(1) Scan"))
    val nested = tree.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(nested <= 1, s"only the 10-row lag spine may nested-loop:\n$p")
    assert(!p.contains("CartesianProduct"), "series self-join must stay an equi join:\n" + p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      "shifted-date join must be key-based:\n" + p)
  }

  test("grouped heavy hitters: MG summaries aggregate partial+final, candidates broadcast") {
    val p = planOf(graft.ext.Text.qTextHeavyHittersByLang(spark, dir))
    assert(p.contains("misra_gries"), "MG summary must be in the aggregate:\n" + p)
    // TypedImperativeAggregate lowers to ObjectHashAggregate with a
    // map-side partial — the bounded-state property depends on it
    val objAggs = p.substring(0, p.indexOf("(1) Scan"))
      .linesIterator.count(_.contains("ObjectHashAggregate"))
    assert(objAggs >= 2, "MG must aggregate partial+final:\n" + p)
    assert(p.contains("BroadcastHashJoin"), "candidate set must broadcast for the confirm:\n" + p)
  }

  test("heavy hitters: cms screen inside codegen, exact confirm aggregates two-phase") {
    val p = planOf(graft.ext.Text.qTextHeavyHitters(spark, dir))
    assert(p.contains("cms_estimate"), "sketch screen must be in the plan:\n" + p)
    val partials = p.linesIterator.count(l => l.contains("HashAggregate"))
    assert(partials >= 2, "confirm count must be partial+final:\n" + p)
  }

  test("zipf fit: vocab truncation is a distributed top-k, not a global window") {
    val p = planOf(graft.ext.Text.qTextZipf(spark, dir))
    assert(p.contains("TakeOrderedAndProject"),
      "topK truncation must lower to TakeOrderedAndProject:\n" + p)
    // the rank window runs after the limit, over at most topK rows —
    // the unbounded vocab table must never reach a single-task window
    val tree = p.substring(0, p.indexOf("(1) Scan"))
    val winAt = tree.linesIterator.indexWhere(_.contains("Window"))
    val takeAt = tree.linesIterator.indexWhere(_.contains("TakeOrderedAndProject"))
    assert(winAt >= 0 && takeAt > winAt,
      "window must consume the bounded top-k output:\n" + p)
  }

  test("containment: candidates come from a shingle equi join, never a cartesian") {
    val p = planOf(graft.ext.Dedup.dedupContainment(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "pair generation must be key-based:\n" + p)
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"), p)
    // the stop-shingle df cap must restrict the join INPUT, not the
    // output: the anti join against the (bounded, checkpointed) stop
    // set has to sit below the candidate join — per-shingle work is
    // df², unbounded df is quadratic on corpus-scale stop-shingles.
    // (The df > maxDf filter itself runs in the checkpoint job, which
    // this plan sees as a leaf.)
    val tree = p.substring(0, p.indexOf("(1) Scan"))
    val lines = tree.linesIterator.toSeq
    val joinAt = lines.indexWhere(l => l.contains("Join") && !l.contains("LeftAnti"))
    val antiAt = lines.indexWhere(_.contains("LeftAnti"))
    assert(antiAt >= 0, "stop-shingle anti join missing:\n" + p)
    assert(joinAt >= 0 && antiAt > joinAt,
      s"df cap must be below the candidate join (join@$joinAt, anti@$antiAt):\n" + p)
  }

  test("winnow dedup: fp-bucketed candidates, df cap below the pair join") {
    val p = planOf(graft.ext.Dedup.dedupWinnow(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "pair generation must be key-based:\n" + p)
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"), p)
    // the boilerplate-fingerprint cap must restrict the join INPUT (per-
    // fingerprint work is df², so corpus-wide fingerprints have to be
    // anti-joined out before candidates are generated)
    val tree = p.substring(0, p.indexOf("(1) Scan"))
    val lines = tree.linesIterator.toSeq
    val joinAt = lines.indexWhere(l => l.contains("Join") && !l.contains("LeftAnti"))
    val antiAt = lines.indexWhere(_.contains("LeftAnti"))
    assert(antiAt >= 0, "hot-fingerprint anti join missing:\n" + p)
    assert(joinAt >= 0 && antiAt > joinAt,
      s"df cap must be below the candidate join (join@$joinAt, anti@$antiAt):\n" + p)
    // the winnowing kernel itself stays inside whole-stage codegen
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"), p)
  }

  test("suffix dedup: range-sorted windows, in-partition lead adjacency, native byte-walks") {
    // stage 1 (pre-materialization): the compiled window walk feeds ONE
    // range partition on the capped windows (the capped-LCP equivalence
    // that replaces prefix-doubling rounds)
    val stage = planOf(graft.ext.SuffixDedup.rankedInput(
      Tables.documents(spark, dir)))
    assert(stage.toLowerCase.contains("rangepartitioning"),
      "window sort must be a range partition:\n" + stage)
    assert(stage.contains("word_suffix_windows"), "native window walk missing:\n" + stage)
    // stage 2: adjacency is lead() inside the staged range partitioning —
    // no join of the amplified window table at all (the only join-shaped
    // node is the tiny driver-built boundary union), and the LCP is the
    // compiled byte-walk
    val p = planOf(graft.ext.SuffixDedup.qSuffixDups(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "adjacency must stay in-partition, never all-pairs:\n" + p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "the amplified window table must not be re-shuffled for a join:\n" + p)
    assert(p.contains("common_prefix_length"), "native LCP missing:\n" + p)
  }

  test("nb classifier scores in ONE tokenize pass with a top-k vocab") {
    val p = planOf(graft.ext.Text.qTextNbLang(spark, dir))
    val tree = p.substring(0, p.indexOf("(1) Scan"))
    // the model branches read the materialized count aggregate, so the
    // corpus explode appears exactly once (the scoring join); before
    // round 9 this plan carried SEVEN Generate nodes — every vocab /
    // class-total / smoothing branch replayed the tokenize lineage
    val generates = tree.linesIterator.count(_.contains("Generate"))
    assert(generates === 1, s"expected 1 Generate (scoring pass), got $generates:\n$p")
    // the 65536-row vocab cap must lower to per-partition top-k heaps,
    // not a full global sort (topKSortFallbackThreshold is raised for
    // this — the default silently falls back past 10000 rows)
    assert(p.contains("TakeOrderedAndProject"),
      "vocab cap must be TakeOrderedAndProject:\n" + p)
  }

  test("bpe encode is a pure map: only the output sort exchanges") {
    val p = planOf(graft.ext.Text.qTextBpe(spark, dir))
    assert(p.contains("bpe_encode"), "native encoder must be in the plan:\n" + p)
    val tree = p.substring(0, p.indexOf("(1) Scan"))
    val exchanges = tree.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 1, s"apply pass must not shuffle (output sort only):\n$p")
  }

  test("embed outliers: centroids broadcast back; scoring joins without a fact shuffle") {
    val p = planOf(graft.ext.Centroid.embedOutliers(
      graft.Tables.embeddings(spark, dir)))
    assert(p.contains("BroadcastHashJoin"), "centroid table must broadcast:\n" + p)
    assert(!p.contains("SortMergeJoin"), "corpus must not shuffle for the centroid join:\n" + p)
  }

  test("dsir: one tokenize pass (checkpointed counts), weights broadcast, top-k lowered") {
    val df = graft.ext.Text.textDsir(spark, dir)
    val p = planOf(df)
    // the bounded (doc, lang, bucket) count table is materialized before
    // this plan, so the token explode must NOT appear in any branch
    assert(nodeCount(p, "Generate") === 0,
      "token stream must come from the checkpointed aggregate:\n" + p)
    assert(p.contains("TakeOrderedAndProject"),
      "global top-k must not be a full sort:\n" + p)
    assert(p.contains("BroadcastHashJoin"),
      "the 64-row weight model must broadcast onto the counts:\n" + p)
  }

  test("knn graph: bucket equi join is unhinted (AQE chooses), never cartesian") {
    val df = graft.ext.Similarity.annKnnGraph(spark, dir)
    val p = planOf(df)
    assert(!p.contains("CartesianProduct"),
      "candidates must come from the bucket equi join:\n" + p)
    // the probe side IS the corpus (13 rows per vector) — a broadcast
    // hint would pin corpus-scaling data to the driver at 100x
    val hints = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.isEmpty, s"probe side must stay unhinted, got ${hints.size}")
    assert(p.contains("AdaptiveSparkPlan"), p)
  }

  test("bitext mining: bucket equi join unhinted, rank filters lower to group limits") {
    val df = graft.ext.Similarity.bitextMine(
      graft.Tables.embeddings(spark, dir))
    val p = planOf(df)
    assert(!p.contains("CartesianProduct"),
      "candidates must come from the bucket equi join:\n" + p)
    // the probe side scales with the source pool — no broadcast hint
    val hints = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.isEmpty, s"probe side must stay unhinted, got ${hints.size}")
    // the mutual-best rn=1 filters must lower to WindowGroupLimit so no
    // per-key candidate list is ever fully ranked on one task
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("hll union: sketch partials aggregate two-phase; the ALL rollup reads the checkpoint") {
    val p = planOf(Parity.qHllUnion(spark, dir))
    // partial registers combine map-side before the exchange (the
    // TypedImperativeAggregate pair supports partial aggregation)
    assert(p.contains("ObjectHashAggregate"), p)
    // the 1-row exact-total side broadcasts; nothing cartesians
    assert(!p.contains("CartesianProduct"), p)
  }

  test("boilerplate: two segment passes by design, df agg and rejoin keyed on the hash") {
    val p = planOf(graft.ext.Text.textBoilerplate(spark, dir))
    // two-pass shape (textVocabOov discipline): build the segment-df
    // table, then rescan to join it back — the Generate appears once per
    // pass and never more
    assert(nodeCount(p, "Generate") === 2, p)
    assert(!p.contains("CartesianProduct"), p)
    // both shuffles carry the fixed-width hash, never the segment text
    val segEx = p.linesIterator.filter(_.contains("hashpartitioning(seg_hash")).size
    assert(segEx >= 1, "df aggregation must shuffle on seg_hash:\n" + p)
  }

  test("text_auc: one pruned scan, rank aggregate keyed on (profile, score)") {
    val p = planOf(graft.ext.Text.textAuc(spark, dir))
    // the corpus contributes exactly one scan reading only text + lang
    val reads = p.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(reads.size === 1, s"one corpus scan expected:\n$p")
    assert(reads.head.contains("text") && reads.head.contains("lang"))
    assert(!reads.head.contains("source") && !reads.head.contains("n_chars"),
      s"unused columns not pruned: ${reads.head}")
    // the single score explode is absorbed by a two-phase aggregate on
    // (lang_profile, score) before the rank window
    assert(nodeCount(p, "Generate") === 1, p)
    assert(p.contains("partial_count") || p.contains("HashAggregate"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("text_heaps: four streaming passes by design, nothing corpus-sized materialized") {
    // two aggregation keys per unit (bucket; type) × two units = four
    // deliberate streaming passes — the shared intermediate would be the
    // corpus-sized (bucket, shingle) table, which must NOT be pinned in
    // executor storage at scale (see the curve() comment). Pin: exactly
    // 4 explodes, no checkpoint RDD scan, every parquet read pruned to
    // doc_id/text.
    val p = planOf(graft.ext.Text.textHeaps(spark, dir))
    assert(nodeCount(p, "Generate") === 4, s"four streaming passes expected:\n$p")
    assert(!p.contains("ExistingRDD"),
      s"no corpus-sized intermediate may be materialized:\n$p")
    val reads = p.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(reads.forall(r => !r.contains("lang") && !r.contains("source")),
      s"unused columns not pruned:\n${reads.mkString("\n")}")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("ann_probe_curve: candidate/exact frames materialized; final plan never rescans") {
    // topk (grid×queries×k rows) and the exact block are
    // localCheckpoint'd — each is consumed twice, and without the
    // materialization every consumer replayed the whole candidate join
    // (measured: 16 corpus scans). The final plan runs entirely on the
    // bounded frames.
    val p = planOf(graft.ext.Ivf.annProbeCurve(spark, dir))
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans === 0, s"final plan must not rescan the corpus:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_split_report: ONE corpus scan feeds both dimensions; text pruned") {
    // pin the corpus-sized HEAD (splitDimCounts) directly — the report's
    // checkpoint hides it from the final plan, which would make any
    // assertion there vacuous
    val head = planOf(graft.ext.Curation.splitDimCounts(Tables.documents(spark, dir)))
    val scans = head.linesIterator.count(_.matches("""\(\d+\) Scan parquet\s*"""))
    assert(scans === 1, s"one corpus scan expected, got $scans:\n$head")
    assert(nodeCount(head, "Generate") === 1,
      s"one struct-array fan-out expected:\n$head")
    val reads = head.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(reads.nonEmpty && reads.forall(!_.contains("text")),
      s"text must be pruned:\n${reads.mkString("\n")}")
    // and the assembled report never cartesians the bounded frames
    assert(!planOf(graft.ext.Curation.qSplitReport(spark, dir))
      .contains("CartesianProduct"))
  }

  test("every unpartitioned window in the repo runs over a bounded intermediate (pinned allowlist)") {
    // A Window with no partition key moves ALL its input to one task —
    // the one shape that cannot survive a corpus-sized input. Every
    // site below is deliberate and bounded; the WindowExec warnings in
    // the logs are THESE sites and nothing else. The pin fails the
    // build when a new unpartitioned window appears, forcing the author
    // to either partition it or justify + register its bound here.
    //
    // Site justifications (input cardinality, independent of corpus):
    //   streaming/Streaming.scala qStreamNovelty  — ≤10 bucket rows
    //   streaming/Streaming.scala corpusBuildMonitorDf — ≤10 bucket rows
    //   ext/Text.scala heapsCurveDf               — ≤10 bucket rows
    //   ext/Text.scala textZipf                   — limit(topK)=1000 rows
    //                                               BEFORE the rank window
    //   ext/Curation.scala mixtureWeights         — #domains rows
    //   ext/Curation.scala mixtureWaterfill (×3)  — #languages rows
    //   ext/Retrieval.scala rrfFusion (×2)        — depth=50 rows per leg
    //   ext/Packing.scala manifestAuditDf boundary  — ≤`buckets`(=64)
    //                                               bucket-summary rows
    //   queries/Parity.scala qKsGap               — nBins bucket rows
    //   queries/Parity.scala qSkyline (×2)        — price-range buckets;
    //                                               frontier candidates
    //   queries/Parity.scala qCusum               — one row per date
    val pinned = Map(
      "streaming/Streaming.scala" -> 2,
      "ext/Text.scala" -> 2,
      "ext/Curation.scala" -> 4,
      "ext/Retrieval.scala" -> 2,
      "ext/Packing.scala" -> 1,
      "queries/Parity.scala" -> 4)
    // \s spans newlines, so a line-wrapped `Window\n  .orderBy(...)`
    // cannot escape the pin (r13 ADVICE); comments are stripped from
    // the whole content first (SourceScan) instead of per-line
    // prefix-sniffing
    val found = SourceScan.codeMatches(
      """Window\s*\.\s*(orderBy|partitionBy\(\))""".r)
    assert(found === pinned,
      s"unpartitioned-window sites drifted from the pinned allowlist.\n" +
        s"found:  ${found.toSeq.sorted}\npinned: ${pinned.toSeq.sorted}\n" +
        "A NEW site means corpus-sized input may hit one task: partition " +
        "it, or prove the input bounded and extend the justification " +
        "table + pin in this spec.")
    // the global-window oracles of q_ntile and the packing manifest live
    // in their specs (ParitySpec, PackingSpec) and are never registered
    // (their distributed rewrites are)
    val registered = SparkEntry.queries.keySet
    assert(registered.contains("q_ntile") && registered.contains("q_pack_sequences"))
    assert(!registered.exists(_.contains("global_window")))
  }

  test("store audits are declarations over one keyed pass; the maintenance plan's shape is pinned") {
    // every coverage / replay count of the ten store audits comes from
    // Audit.keyedAuditDf: an audit body with an anti-join or a second
    // cross join is a hand-written one-row leg coming back
    val audits = Seq("artifactAuditDf", "hashStoreAuditDf", "indexAuditDf",
      "storeConsistencyDf", "manifestAuditDf", "packedAuditDf",
      "ivfLayoutAuditDf", "codesAuditDf", "ivfPqLayoutAuditDf", "featureAuditDf")
    val bodies = for {
      (_, _, code) <- SourceScan.mainSources
      name <- audits
      i = code.indexOf(s"def $name(") if i >= 0
    } yield name -> code.substring(i, """\n  \S""".r.findFirstMatchIn(code.substring(i))
      .map(i + _.start).getOrElse(code.length))
    assert(bodies.map(_._1).sorted === audits.sorted)
    bodies.foreach { case (name, body) =>
      assert(body.contains("Audit.keyedAuditDf"), s"$name bypasses the primitive")
      assert(!body.contains("left_anti"), s"$name counts coverage by anti-join")
      assert("crossJoin".r.findAllIn(body).size <= 1,
        s"$name cross-joins more than two one-row frames")
    }
    // the tree section of the formatted plan (the node details follow
    // after the first blank line)
    val tree = planOf(ext.Dedup.qMaintenancePlan(spark, dir)).split("\n\n")(0)
    def nodes(re: String) = re.r.findAllIn(tree).size
    assert((nodes("BroadcastNestedLoopJoin"), nodes("(?<![A-Za-z])Exchange"),
      nodes("BroadcastExchange")) === ((9, 30, 23)), tree)
  }

  test("one store protocol: no rename-aside or publish-mode names in src/main; only the two streaming sinks append in place") {
    // the pointer commit is the only publish: the rename-aside paths,
    // the mode switch and its knobs must not come back, in code or prose
    val gone = Seq("graft.publish.mode", "graft.publish.keepVersions",
      "__staged", "__prev", "publishAuto", "recoverAuto", "PointerStore")
    val mentions = for {
      (rel, raw, _) <- SourceScan.mainSources
      name <- gone if raw.contains(name)
    } yield s"$rel: $name"
    assert(mentions.isEmpty, s"removed protocol names reappeared: $mentions")
    // an in-place append into a maintained store lands beside its
    // committed version and is never served: stores append through
    // StoreIO delta children. The two streaming output sinks are not
    // maintained stores.
    val appends = SourceScan.codeMatches(
      """SaveMode\s*\.\s*Append|\.mode\(\s*"(?i:append)"\s*\)""".r)
    assert(appends === Map(
      "streaming/Streaming.scala" -> 1, "ext/Similarity.scala" -> 1),
      s"append-mode parquet writers drifted from the two streaming sinks: $appends")
  }

  test("one stream driver: only streaming/Streams.scala reads or writes a stream, triggers, awaits or picks the state store") {
    // every runner declares a source, a transform and a sink; a runner
    // that spells out its own drain would bring the copies back
    Seq("""\breadStream\b""", """\bwriteStream\b""", """Trigger\s*\.\s*AvailableNow""",
      """\bawaitTermination\b""", "RocksDBStateStoreProvider").foreach { re =>
      assert(SourceScan.codeMatches(re.r).keySet === Set("streaming/Streams.scala"), re)
    }
  }
}

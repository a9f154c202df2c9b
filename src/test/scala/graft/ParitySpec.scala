package graft

/** Smoke coverage: every declared query runs non-empty on sf0.001 and
  * every oracle key has a matching query (value-level parity is the
  * driver's DuckDB gate + tools/check_oracle.py).
  */
class ParitySpec extends SparkSuite {
  val sfDir = "/root/testdata/sf0.001"

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("no query or oracle name is registered by two query groups") {
    // the groups merge with ++, so a second registration would silently
    // shadow the first instead of failing
    def repeated(names: Seq[String]) =
      names.groupBy(identity).collect { case (n, hits) if hits.size > 1 => n }.toSet
    val groups = SparkEntry.queryGroups
    assert(repeated(groups.flatMap(_._1.keys)).isEmpty, "query registered twice")
    assert(repeated(groups.flatMap(_._2.keys)).isEmpty, "oracle registered twice")
  }

  // Queries whose result is LEGITIMATELY empty on the shared sf0.001
  // corpus: its planted near-dups form complete cliques, so the
  // ingest-vs-batch reconciliation gap is empty, and the registered
  // src7 takedown deletes no cluster canonical there. The smoke check
  // pins them EXACTLY EMPTY — corpus or semantics drift still trips —
  // and their nonempty cases are pinned by dedicated specs
  // (StreamingSpec's planted transitive chain / forced canonical
  // delete; q_delete_apply is additionally nonempty at the sf0.1 gate).
  // q_delete_tombstone shares q_delete_apply's delete set and delta
  // semantics (one oracle pins both), so it is exactly empty here too;
  // its nonempty case rides ExtSpec's forced-canonical tombstone drill.
  private val emptyOnSf0001 =
    Set("q_reconcile", "q_delete_apply", "q_delete_tombstone")

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    if (emptyOnSf0001(name))
      test(s"$name runs empty on sf0.001 (documented; nonempty case spec-pinned)") {
        assert(fn(spark, sfDir).count() === 0)
      }
    else
      test(s"$name runs non-empty on sf0.001") {
        assert(fn(spark, sfDir).count() > 0)
      }
  }

  test("approximate sketches track the exact aggregates within tolerance") {
    import org.apache.spark.sql.functions._
    val approx = queries.Parity.qApproxSketch(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val exact = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n"),
        expr("percentile(l_extendedprice, 0.5)").as("m"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    exact.foreach { case (k, (n, m)) =>
      val (an, am) = approx(k)
      assert(math.abs(an - n).toDouble / n < 0.1, s"$k distinct: $an vs $n")
      assert(math.abs(am - m) / m < 0.1, s"$k median: $am vs $m")
    }
  }

  test("transition matrix rows are proper conditional distributions") {
    import org.apache.spark.sql.functions._
    val t = queries.Parity.qTransitions(spark, sfDir)
    // per-from probabilities sum to 1 (within FP of the tiny matrix sum)
    val sums = t.groupBy("from_type").agg(sum("p").as("s")).collect()
    sums.foreach(r => assert(math.abs(r.getDouble(1) - 1.0) < 1e-9, r.toString))
    // total transition count = events minus one per (user, first event)
    val nPairs = t.agg(sum("n")).first().getLong(0)
    val ev = Tables.events(spark, sfDir)
    val expected = ev.count() - ev.select("user_id").distinct().count()
    assert(nPairs === expected)
  }

  test("top session paths are capped at 8 steps and rank by frequency") {
    val rows = queries.Parity.qTopPaths(spark, sfDir).collect()
    assert(rows.length === 20)
    rows.foreach { r =>
      assert(r.getString(0).split(">").length <= 8, r.getString(0))
    }
    val counts = rows.map(_.getLong(1))
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b })
  }

  test("binned KS drift matches an exact recomputation of the same bins") {
    val row = queries.Parity.qDriftKs(spark, sfDir).first()
    val (ks, psi) = (row.getDouble(0), row.getDouble(1))
    assert(ks >= 0 && ks <= 1, s"ks=$ks")
    assert(row.getLong(2) <= 100)
    val o = Tables.orders(spark, sfDir)
    assert(row.getLong(3) + row.getLong(4) === o.count())
    // recompute the binned ECDF distance from collected rows
    val data = o.select("o_totalprice", "o_orderdate").collect()
      .map(r => (r.getDouble(0), r.getAs[java.time.LocalDateTime](1).isBefore(
        java.time.LocalDateTime.of(1998, 1, 1, 0, 0))))
    val (mn, mx) = (data.map(_._1).min, data.map(_._1).max)
    def bucket(v: Double) = math.min(math.floor((v - mn) / ((mx - mn) / 100)), 99).toInt
    val early = data.filter(_._2).map(t => bucket(t._1))
    val late = data.filterNot(_._2).map(t => bucket(t._1))
    val gaps = (0 until 100).map { b =>
      math.abs(early.count(_ <= b).toDouble / early.length -
        late.count(_ <= b).toDouble / late.length)
    }
    assert(math.abs(ks - BigDecimal(gaps.max).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9, s"ks=$ks vs ${gaps.max}")
    assert(!psi.isNaN && psi >= 0, s"psi=$psi")
  }

  test("q_merge_intervals spans are disjoint per user, cover every event, and beat lag-gap merging on nested intervals") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val spans = queries.Parity.qMergeIntervals(spark, sfDir)
    // disjoint and strictly ordered: each span starts after the previous one ends
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("span_start_ms"))
    val overlaps = spans
      .withColumn("prev_end", lag(col("span_end_ms"), 1).over(w))
      .filter(col("prev_end").isNotNull && col("span_start_ms") <= col("prev_end"))
      .count()
    assert(overlaps === 0L, s"$overlaps overlapping merged spans")
    // every event lands in exactly one span
    val nEvents = spans.agg(sum("n_events")).first().getLong(0)
    assert(nEvents === Tables.events(spark, sfDir).count())
    // nested-interval regression: [0,100], [1,2], [150,160] — the running-max
    // merge keeps [0,100] open across the contained interval; a lag-gap flag
    // (prev END of the CONTAINED interval) would split before 150 only by luck
    val local = Seq((1L, 0L, 100L, 1L), (1L, 1L, 2L, 2L), (1L, 150L, 160L, 3L))
      .toDF("user_id", "s", "e", "event_id")
    val ww = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("s"), col("event_id"))
    val merged = local
      .withColumn("rm", max(col("e")).over(ww.rowsBetween(Long.MinValue, -1)))
      .withColumn("new_span", when(col("rm").isNull || col("s") > col("rm"), 1).otherwise(0))
      .withColumn("span_id", sum(col("new_span")).over(
        ww.rowsBetween(Long.MinValue, 0)))
      .groupBy("user_id", "span_id")
      .agg(min("s").as("ss"), max("e").as("ee"), count(lit(1)).as("n"))
      .orderBy("ss")
      .collect()
    assert(merged.length === 2)
    assert(merged(0).getLong(2) === 0L && merged(0).getLong(3) === 100L && merged(0).getLong(4) === 2L)
    assert(merged(1).getLong(2) === 150L && merged(1).getLong(3) === 160L && merged(1).getLong(4) === 1L)
  }

  test("q_zorder buckets tile BOTH dimensions and prune the 2-D box where a one-key sort cannot") {
    import org.apache.spark.sql.functions._
    val b = queries.Parity.qZorder(spark, sfDir).collect()
    val li = Tables.lineitem(spark, sfDir)
    // partition of the table: bucket counts sum to the row count
    assert(b.map(_.getLong(1)).sum === li.count())
    val gPk = b.map(_.getLong(3)).max - b.map(_.getLong(2)).min
    val gSk = b.map(_.getLong(5)).max - b.map(_.getLong(4)).min
    val avgPk = b.map(r => r.getLong(3) - r.getLong(2)).sum.toDouble / b.length
    val avgSk = b.map(r => r.getLong(5) - r.getLong(4)).sum.toDouble / b.length
    // each bucket is ~a 1/8 x 1/8 tile; a layout sorted by partkey alone
    // would leave avg suppkey span ~= the full global span, so the sk
    // bound is the claim a one-key sort cannot meet
    assert(avgPk <= gPk / 4.0, s"avg pk span $avgPk vs global $gPk")
    assert(avgSk <= gSk / 4.0, s"avg sk span $avgSk vs global $gSk")
    // min-max skipping: most tiles skip the middle-eighth 2-D box
    val prunable = b.map(_.getInt(6)).sum
    assert(prunable >= b.length * 6 / 10, s"$prunable/${b.length} prunable")
  }

  test("q_skyline result is exactly the non-dominated set") {
    import org.apache.spark.sql.functions._
    val sky = queries.Parity.qSkyline(spark, sfDir)
    val part = Tables.part(spark, sfDir)
    // soundness: nothing in the table strictly dominates a skyline row
    val dominated = sky.as("s").join(part.as("q"),
        col("q.p_retailprice") <= col("s.p_retailprice") &&
        col("q.p_size") >= col("s.p_size") &&
        (col("q.p_retailprice") < col("s.p_retailprice") ||
         col("q.p_size") > col("s.p_size")))
      .count()
    assert(dominated === 0L, s"$dominated dominating rows against skyline members")
    // completeness: every non-skyline row IS dominated by some skyline row
    val nonSky = part.as("p").join(sky.as("s2"),
        col("p.p_partkey") === col("s2.p_partkey"), "left_anti")
    val covered = nonSky.as("p").join(sky.as("s"),
        col("s.p_retailprice") <= col("p.p_retailprice") &&
        col("s.p_size") >= col("p.p_size") &&
        (col("s.p_retailprice") < col("p.p_retailprice") ||
         col("s.p_size") > col("p.p_size")), "left_semi").count()
    assert(covered === nonSky.count(), "a non-skyline row has no skyline dominator")
  }

  test("q_decay weights fade monotonically and never exceed raw revenue") {
    val rows = queries.Parity.qDecay(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val raw = r.getDouble(2); val dec = r.getDouble(3)
      assert(dec > 0 && dec <= raw, s"decayed $dec vs raw $raw")
      // a 91-day half-life over a multi-year order history must fade
      // most of the mass: decayed is well under half of raw
      assert(dec < raw * 0.5, s"decay too weak: $dec vs $raw")
    }
  }

  test("q_market_basket rules satisfy support <= confidence <= 1 and lift consistency") {
    val rows = queries.Parity.qMarketBasket(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nPair, n1, n2) = (r.getLong(2), r.getLong(3), r.getLong(4))
      val (sup, conf, lift) = (r.getDouble(5), r.getDouble(6), r.getDouble(7))
      assert(nPair >= 2 && nPair <= math.min(n1, n2), s"pair count $nPair vs $n1/$n2")
      assert(sup > 0 && sup <= conf && conf <= 1.0, s"support $sup confidence $conf")
      // lift = conf / P(p2): both > 0; rounded forms agree to tolerance
      assert(lift > 0)
    }
    // descending-lift order
    val lifts = rows.map(_.getDouble(7))
    assert(lifts.zip(lifts.tail).forall { case (a, b) => a >= b })
  }

  test("q_benford observed fractions form a distribution over digits 1-9") {
    val rows = queries.Parity.qBenford(spark, sfDir).collect()
    assert(rows.map(_.getInt(0)).toSeq == (1 to 9), "digits 1..9 each present")
    val obs = rows.map(_.getDouble(2)).sum
    assert(math.abs(obs - 1.0) < 1e-4, s"observed fractions sum to $obs")
    val exp = rows.map(_.getDouble(3)).sum
    assert(math.abs(exp - 1.0) < 1e-4, s"benford fractions sum to $exp")
  }

  test("q_chi2 expected margins reproduce the observed totals") {
    val rows = queries.Parity.qChi2(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val nTotal = rows.map(_.getLong(2)).sum
    val eTotal = rows.map(_.getDouble(3)).sum
    // sum of expected counts == N (margins are consistent)
    assert(math.abs(eTotal - nTotal) < 1e-3, s"expected sums to $eTotal vs $nTotal")
    rows.foreach(r => assert(r.getDouble(4) >= 0, "negative chi2 contribution"))
  }

  test("q_outlier_mad medians are robust: MAD >= 0 and outliers are a small tail") {
    val rows = queries.Parity.qOutlierMad(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, mad, out) = (r.getLong(1), r.getDouble(3), r.getLong(4))
      assert(mad >= 0)
      // by construction at least half the residuals are <= MAD, so
      // the 3-MAD tail can never reach half the group
      assert(out < n / 2.0, s"outliers $out of $n")
    }
  }

  test("q_latest max_by compaction equals the row_number window form") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val fast = queries.Parity.qLatest(spark, sfDir)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t").desc, col("event_id").desc)
    val windowed = Tables.events(spark, sfDir)
      .select(col("user_id"), unix_millis(col("ts")).as("t"),
        col("event_id"), col("event_type"), col("value"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("t").as("last_ts_ms"),
        col("event_id").as("last_event_id"),
        col("event_type").as("last_event_type"),
        col("value").as("last_value"))
    assert(fast.except(windowed).count() === 0L &&
      windowed.except(fast).count() === 0L)
  }

  test("q_seasonality deviations cancel within each weekday") {
    import org.apache.spark.sql.functions._
    val s = queries.Parity.qSeasonality(spark, sfDir)
    val resid = s.groupBy(col("dow"))
      .agg(sum(col("deviation")).as("r"), count(lit(1)).as("n"))
      .collect()
    // mean deviation per weekday is ~0 (bounded by rounding of each term)
    resid.foreach { r =>
      assert(math.abs(r.getDouble(1)) <= r.getLong(2) * 1e-3,
        s"dow ${r.getInt(0)}: residual ${r.getDouble(1)}")
    }
  }

  test("token entropy is bounded by ln(n_tokens) and zero for uniform repeats") {
    import org.apache.spark.sql.functions._
    val e = ext.Text.textEntropy(spark, sfDir)
    // entropy is rounded to 4 decimals for display, so the ln(n) ceiling
    // can be overshot by up to half the last rounding step
    val bad = e.filter(col("entropy") < -1e-4 ||
      col("entropy") > log(col("n_tokens")) + 1e-4 ||
      col("ttr") <= 0 || col("ttr") > 1).count()
    assert(bad === 0)
    // spot-check one document by hand
    val doc = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).first()
    val toks = doc.getString(1).trim.toLowerCase.split("\\s+")
    val n = toks.length.toDouble
    val h = math.log(n) - toks.groupBy(identity).values
      .map(g => BigDecimal(g.size * math.log(g.size)).setScale(9,
        BigDecimal.RoundingMode.HALF_UP).toDouble).sum / n
    val got = e.filter(col("doc_id") === doc.getLong(0)).first().getDouble(3)
    assert(math.abs(got - h) < 1e-4, s"$got vs $h")
  }

  test("q_cusum prefix-extremum closed form equals the textbook recurrence") {
    val rows = queries.Parity.qCusum(spark, sfDir).collect()
    val xs = rows.map(_.getLong(1))
    val mu = xs.sum / xs.length
    val kap = mu / 20
    var sp = 0L
    var sn = 0L
    rows.foreach { r =>
      val x = r.getLong(1)
      sp = math.max(0L, sp + (x - mu - kap))
      sn = math.max(0L, sn + (mu - kap - x))
      assert(r.getLong(2) === sp, s"S+ at ${r.get(0)}")
      assert(r.getLong(3) === sn, s"S- at ${r.get(0)}")
      assert(r.getBoolean(4) === (sp > mu / 2 || sn > mu / 2))
    }
  }

  test("text_zipf recovers an exact power law: slope -1, r2 1, intercept ln K") {
    import spark.implicits._
    // counts 12, 6, 4, 3 at ranks 1..4 satisfy c = 12/r exactly, so
    // ln c = ln 12 - 1*ln r is a perfect line through the fit
    val text = Seq.fill(12)("aa") ++ Seq.fill(6)("bb") ++
      Seq.fill(4)("cc") ++ Seq.fill(3)("dd")
    val docs = Seq((1L, text.mkString(" "))).toDF("doc_id", "text")
    val r = ext.Text.textZipf(docs).first()
    assert(r.getLong(0) === 4L)
    assert(r.getDouble(1) === -1.0, s"slope ${r.getDouble(1)}")
    assert(math.abs(r.getDouble(2) - math.log(12.0)) < 1e-6,
      s"intercept ${r.getDouble(2)}")
    assert(r.getDouble(3) === 1.0, s"r2 ${r.getDouble(3)}")
  }

  test("results are invariant to the shuffle partition count") {
    // partition-count sensitivity is how nondeterminism sneaks into a
    // distributed pipeline (per-partition rand/accumulation order/limit
    // without order). A representative slice of every operator family
    // must produce IDENTICAL rows at 3 and 7 shuffle partitions.
    val sample = Seq("dedup_minhash", "text_nb_lang", "q_pagerank",
      "q_window_analytics", "ann_topk", "q_curate", "q_bm25", "q_milestones")
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    try {
      val at3 = {
        spark.conf.set(key, "3")
        sample.map(q => q -> SparkEntry.queries(q)(spark, sfDir).collect().map(_.toString).toSeq).toMap
      }
      spark.conf.set(key, "7")
      sample.foreach { q =>
        val at7 = SparkEntry.queries(q)(spark, sfDir).collect().map(_.toString).toSeq
        assert(at7 === at3(q), s"$q differs across shuffle partition counts")
      }
    } finally spark.conf.set(key, prev)
  }

  test("sketch estimates are partition-invariant at sf0.1") {
    import org.apache.spark.sql.functions._
    // sketches are the ops most sensitive to merge order; pin at the
    // bench SF where many-partition merges actually happen. Both
    // q_approx_sketch halves merge commutatively/associatively (HLL
    // register max; histogram count addition), so the ENTIRE result —
    // estimate AND median — must be exactly equal under any
    // partitioning (the GK summary this replaced was
    // partitioning-dependent by construction and only admitted a
    // rank-error-bound check here).
    val dir01 = "/root/testdata/sf0.1"
    val li = Tables.lineitem(spark, dir01)
    val exactQ = li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n"),
        expr("percentile(l_extendedprice, 0.5)").as("m"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    def sketch(df: org.apache.spark.sql.DataFrame) =
      queries.Parity.approxSketch(df)
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val base = sketch(li)
    Seq(li.repartition(7), li.repartition(64, col("l_partkey")),
      li.repartition(3, col("l_orderkey"))).foreach { variant =>
      val got = sketch(variant)
      exactQ.foreach { case (k, (n, m)) =>
        assert(got(k) === base(k),
          s"$k: sketch result moved across partitionings (${got(k)} vs ${base(k)})")
        assert(math.abs(got(k)._2 - m) / m < 0.01,
          s"$k: histogram median ${got(k)._2} outside 1% of exact $m")
        assert(math.abs(got(k)._1 - n).toDouble / n < 0.05,
          s"$k: HLL ${got(k)._1} outside 5% of exact $n")
      }
    }
    // deterministic HLL union at sf0.1: merging per-type sketches built
    // under different partitionings yields the identical ALL estimate
    import graft.functions.Hll
    val ev = Tables.events(spark, dir01)
    def hllAll(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(col("event_type")).agg(Hll.regAgg(col("user_id")).as("sk"))
      .agg(Hll.mergeAgg(col("sk")).as("sku"))
      .select(Hll.estimate(col("sku")))
      .first().getLong(0)
    val allBase = hllAll(ev)
    Seq(ev.repartition(5), ev.repartition(48, col("user_id"))).foreach { variant =>
      assert(hllAll(variant) === allBase, "HLL union estimate moved across partitionings")
    }
  }

  test("histMedianBucket picks exactly the lower median's bucket (randomized multisets)") {
    import spark.implicits._
    // fixed seed: every run checks the same 20 (values, width) draws
    val rnd = new scala.util.Random(42)
    (1 to 20).foreach { trial =>
      val n = 1 + rnd.nextInt(400)
      val vals = Seq.fill(n)(rnd.nextInt(10000).toLong)
      val w = 1 + rnd.nextInt(500)
      val hist = vals.groupBy(_ / w).toSeq
        .map { case (b, xs) => ("g", b, xs.size.toLong) }
        .toDF("g", "bucket", "cnt")
      val row = queries.Parity.histMedianBucket(hist, "g").head()
      val lowerMed = vals.sorted.apply((n + 1) / 2 - 1)
      assert(row.getLong(1) === n, s"trial $trial: n_values")
      assert(row.getLong(2) === lowerMed / w,
        s"trial $trial: bucket ${row.getLong(2)} vs lower-median bucket ${lowerMed / w} (n=$n, w=$w)")
    }
  }

  test("q_hist_view: bucket medians stay within half a bucket of exact, ALL row merges") {
    import org.apache.spark.sql.functions._
    val rows = queries.Parity.qHistView(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    // the $5-bucket lower-median midpoint is within $2.50 + one exact
    // step of the exact lower median by construction
    rows.foreach { case (scope, (n, approx, exact)) =>
      assert(n > 0, scope)
      assert(math.abs(approx - exact) <= 2.51, s"$scope: $approx vs $exact")
    }
    // the ALL scope (derived ONLY from merged per-type bucket counts)
    // counts every non-null value exactly once
    val nAll = Tables.events(spark, sfDir)
      .filter(col("value").isNotNull).count()
    assert(rows("ALL")._1 === nAll)
    assert(rows.filterKeys(_ != "ALL").values.map(_._1).sum === nAll)
  }

  test("hll sketch union merges to exactly the direct global sketch") {
    import org.apache.spark.sql.functions._
    val rows = queries.Parity.qHllUnion(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // the ALL estimate, built by MERGING per-type sketches, must equal
    // the estimate of one sketch over the whole table (union exactness)
    val direct = Tables.events(spark, sfDir)
      .agg(graft.functions.Hll.regAgg(col("user_id")).as("sk"))
      .select(graft.functions.Hll.estimate(col("sk")))
      .first().getLong(0)
    assert(rows("ALL")._1 === direct)
    // every estimate tracks its exact count
    rows.foreach { case (scope, (est, exact)) =>
      assert(math.abs(est - exact).toDouble / exact < 0.05, s"$scope: $est vs $exact")
    }
  }

  /** The one-task exact form of q_ntile: one ntile window over the
    * global order — the oracle for [[queries.Parity.qNtile]]'s
    * distributed-rank rewrite, never a registered query.
    */
  private def qNtileGlobalWindow: org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.orders(spark, sfDir)
      .withColumn("decile", ntile(10).over(w))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n"),
        min(col("o_totalprice")).as("lo"), max(col("o_totalprice")).as("hi"))
      .orderBy("decile")
  }

  test("q_ntile distributed rank: equals the exact global-window form, no single-task window") {
    val got = queries.Parity.qNtile(spark, sfDir).collect().map(_.toString).toSeq
    val want = qNtileGlobalWindow.collect().map(_.toString).toSeq
    assert(got === want)
    // the profile plan must not merge the corpus into one task: the only
    // windows are per-range-partition (the old form shuffled everything
    // into a SinglePartition exchange for its global ntile window)
    val plan = queries.Parity.qNtile(spark, sfDir).queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(!plan.contains("SinglePartition"), s"single-task stage in q_ntile plan:\n$plan")
  }

  test("q_skew_agg salted two-phase equals the plain groupBy, salt stays internal") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    val d = DecimalType(18, 2)
    val got = queries.Parity.qSkewAgg(spark, sfDir)
    val want = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity")).as("sum_qty"),
        sum(col("l_extendedprice").cast(d)).cast("double").as("sum_base_price"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")
      .collect().map(_.toString).toSeq
    assert(got.collect().map(_.toString).toSeq === want)
    assert(!got.schema.fieldNames.contains("__salt"))
    // the partial phase really shuffles on (key, salt): a hot key spreads
    // over nSalts tasks instead of landing on one reducer
    val plan = got.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    val saltedExchange = plan.linesIterator
      .filter(_.contains("hashpartitioning")).exists(_.contains("__salt"))
    assert(saltedExchange, s"expected a (key, __salt) exchange in:\n$plan")
  }

  test("q_skew_join salted join equals the plain join, joins on (key, salt)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    val d = DecimalType(18, 2)
    val got = queries.Parity.qSkewJoin(spark, sfDir)
    val li = Tables.lineitem(spark, sfDir)
    val supp = Tables.supplier(spark, sfDir)
    val want = li.join(supp, li("l_suppkey") === supp("s_suppkey"))
      .groupBy(col("s_nationkey"))
      .agg(
        sum(col("l_extendedprice").cast(d) * (lit(1).cast(d) - col("l_discount").cast(d)))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("s_nationkey")
      .collect().map(_.toString).toSeq
    assert(got.collect().map(_.toString).toSeq === want)
    val plan = got.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("__salt"), s"expected a (key, __salt) join in:\n$plan")
  }

  test("q_gap_fill spine is dense per user and LOCF carries the last seen value") {
    import org.apache.spark.sql.functions._
    val rows = queries.Parity.qGapFill(spark, sfDir).collect()
    val byUser = rows.groupBy(_.getLong(0))
    byUser.foreach { case (_, rs) =>
      val hours = rs.map(_.getLong(1))
      // dense hourly spine: consecutive rows are exactly 3600000 ms apart
      hours.sliding(2).foreach {
        case Array(a, b) => assert(b - a === 3600000L, "spine must be dense")
        case _           =>
      }
      // LOCF: the first row is an observation, and no fill is null after it
      assert(rs.head.getLong(2) > 0, "spine starts at the first active hour")
      rs.foreach(r => assert(!r.isNullAt(3), "LOCF leaves no null after the first observation"))
    }
    // gap rows exist (zero-filled) and carry the previous hour's value
    assert(rows.exists(_.getLong(2) === 0L), "expected gap hours in the test data")
  }

  test("q_gap_fill lead-tiling equals the retired spine-join + LOCF-window formulation") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    val d = DecimalType(18, 6)
    val hourly = Tables.events(spark, sfDir)
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast(d)).as("hour_value"))
    val spine = hourly.groupBy(col("user_id"))
      .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      .select(col("user_id"),
        explode(sequence(col("h0"), col("h1"), expr("INTERVAL 1 HOUR"))).as("h"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("h"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = spine.join(hourly, Seq("user_id", "h"), "left")
      .select(col("user_id"), unix_millis(col("h")).as("hour_ms"),
        coalesce(col("n"), lit(0L)).as("n_events"),
        last(col("hour_value"), ignoreNulls = true).over(w).cast("double").as("locf_value"))
      .orderBy("user_id", "hour_ms")
      .collect().map(_.toString).toSeq
    val got = queries.Parity.qGapFill(spark, sfDir).collect().map(_.toString).toSeq
    assert(got === want)
  }

  test("q_anomaly flags exactly the planted spike") {
    import spark.implicits._
    val tmp = tempDir("anomaly_events")
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val rows = (1 to 40).map { i =>
      val v = if (i == 30) 100.0 else if (i % 2 == 0) 10.5 else 9.5
      (i.toLong, new java.sql.Timestamp(base.getTime + i * 60000L), 1L, "click", v, "{}")
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(tmp.resolve("events.parquet").toString)
    val got = queries.Parity.qAnomaly(spark, tmp.toString).collect()
    assert(got.map(_.getAs[Long]("event_id")).toSeq === Seq(30L),
      "only the planted spike crosses |z| > 3")
    assert(math.abs(got.head.getAs[Double]("trailing_mean") - 10.0) < 0.1)
    assert(got.head.getAs[Double]("z") > 3)
  }

  test("registerAll exposes every table to spark.sql") {
    Tables.registerAll(spark, sfDir)
    assert(spark.sql("SELECT count(*) FROM lineitem").first().getLong(0) === 6000L)
    // events view must carry the normalized timestamp type
    assert(spark.sql("SELECT count(*) FROM events WHERE hour(ts) >= 0").first().getLong(0) === 1000L)
  }
}

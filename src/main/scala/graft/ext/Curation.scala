package graft.ext

import graft.Tables
import graft.functions.{LangId, TextFns, TextStats}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dataset curation primitives for a training-data pipeline: reproducible
  * hash-based sampling, train/val/test split assignment, and an
  * end-to-end curation query composing quality scoring + language ID +
  * exact dedup + splitting.
  *
  * Split/sample decisions hash the STABLE document id (never `rand()`):
  * every run, every engine, and every retry of a failed task assigns the
  * same document to the same split — the property a reproducible corpus
  * build needs. The hash is md5 of the decimal id string, which DuckDB
  * computes identically, so even these ops are oracle-checkable. All of
  * it is a pure map over the scan — no shuffle, no state — so at 100 TB
  * the split step is free (it fuses into whatever scan follows).
  */
object Curation {

  /** First hex byte of md5(id) — 256 evenly-loaded lexicographic buckets
    * (hex digits are ASCII-ordered, so string comparison = numeric
    * comparison on the bucket).
    */
  def hashBucket(id: Column): Column =
    substring(md5(id.cast("string").cast("binary")), 1, 2)

  /** ~80/10/10 split on the 256 hash buckets: 'cd' = 205 ⇒ 205/256 train,
    * 'e6' = 230 ⇒ 25/256 val, rest test. Deterministic in the id alone.
    */
  def splitAssign(id: Column): Column = {
    val h = hashBucket(id)
    when(h < "cd", "train").when(h < "e6", "val").otherwise("test")
  }

  /** Reproducible ~rate sampling by hash prefix; rate is quantized to
    * 1/256ths (pass the threshold bucket count).
    */
  def sampleByHash(df: DataFrame, id: Column, buckets: Int): DataFrame = {
    require(buckets >= 1 && buckets <= 256, "buckets in [1, 256]")
    // 256 formats to three hex chars, which would break the 2-char
    // lexicographic compare — and means "keep everything" anyway
    if (buckets == 256) df
    else df.filter(hashBucket(id) < lit(f"${buckets}%02x"))
  }

  /** Per-split document counts over the whole corpus. */
  def qSplitAssign(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(splitAssign(col("doc_id")).as("split"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("split")

  /** Reproducible ~12.5% sample (32/256 buckets) of the documents. */
  def qSampleHash(spark: SparkSession, dir: String): DataFrame =
    sampleByHash(Tables.documents(spark, dir), col("doc_id"), 32)
      .select("doc_id", "lang", "n_chars")
      .orderBy("doc_id")

  /** End-to-end curation: language-agnostic quality gates (punctuation
    * ratio, mean token length), predicted-language == declared-language
    * agreement, exact dedup (min-id representative per content hash),
    * then split assignment. One shuffle total (the dedup window); the
    * quality/lang columns come from the native single-pass expressions.
    */
  /** Shared curation signals: quality columns (punctuation ratio, mean
    * token length from one TextStats pass), predicted language, and the
    * exact-dedup rank (min doc_id per content hash). ONE definition used
    * by both [[qCurate]] and the [[qCorpusBuild]] funnel, so the
    * flagship can never drift from the standalone gates.
    */
  // private[graft]: the streaming corpus-build monitor folds the SAME
  // signal/gate definitions, so batch and ingest funnels cannot drift
  private[graft] def curateSignals(docs: DataFrame): DataFrame = {
    val st = TextStats(col("text"), Seq("the", "a", "of", "and", "to", "in"))
    val w = Window.partitionBy(md5(col("text").cast("binary"))).orderBy(col("doc_id"))
    docs
      .withColumn("st", st)
      .withColumn("punct_ratio", round(col("st.n_punct").cast("double") / col("st.n_chars"), 4))
      .withColumn("mean_token_len",
        round(col("st.sum_token_len").cast("double") / col("st.n_tokens"), 4))
      .withColumn("lang_pred", LangId(col("text")).getField("lang"))
      .withColumn("rn", row_number().over(w))
  }

  /** The quality gate over [[curateSignals]] columns. */
  private[graft] def curateGate: Column =
    col("punct_ratio") <= 0.2 &&
      col("mean_token_len").between(2.0, 15.0) &&
      col("lang_pred") === col("lang")

  def qCurate(spark: SparkSession, dir: String): DataFrame =
    curateSignals(Tables.documents(spark, dir))
      .filter(col("rn") === 1 && curateGate)
      .select(col("doc_id"), col("lang"), splitAssign(col("doc_id")).as("split"))
      .orderBy("doc_id")

  /** The full corpus-build FUNNEL — the integration query a real
    * training-data pipeline runs end to end, composing the engine's
    * stages in their production order and reporting the survival funnel
    * (docs + chars per stage):
    *
    *   0_raw            the training corpus (benchmark docs held out)
    *   1_exact_dedup    min-id representative per content hash
    *   2_near_dedup     minus non-canonical members of MinHash near-dup
    *                    clusters ([[Cluster.clusters]] over
    *                    the verified jaccard >= 0.8 pairs)
    *   3_decontaminated minus documents sharing a word-5-gram with the
    *                    benchmark suite ([[Retrieval.quarantine]])
    *   4_quality        minus documents failing the [[qCurate]] gates
    *                    (punctuation ratio, mean token length,
    *                    predicted-language agreement)
    *
    * Each stage's predicate is computed INDEPENDENTLY as a per-doc flag
    * (one corpus scan for the text-derived flags, plus the pair pipeline
    * and the gram join — all existing scale-safe shapes), then a single
    * conditional aggregate folds the conjunctions; the report is 5 rows
    * at any corpus size. The DuckDB oracle recomposes every stage from
    * the SAME shared fragments the stage oracles use
    * ([[Dedup.minhashPairsCte]], the curate gates, the quarantine gram
    * join), so hash-green here proves the COMPOSITION, not just the
    * stages.
    */
  def qCorpusBuild(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val corpus = docs.filter(col("doc_id") % 100 =!= 0)
    val flagged = curateSignals(corpus)
      .select(col("doc_id"), col("n_chars"),
        (col("rn") === 1).as("e_ok"), curateGate.as("q_ok"))
    val nearDropped = Cluster.nonCanonical(Cluster.clusters(Dedup.verifiedPairs(spark, dir)))
      .select(col("doc_id"), lit(true).as("near_dup"))
    val contaminated = Retrieval.quarantine(docs, Retrieval.benchGramSet(docs))
      .select(col("doc_id"), lit(true).as("contam"))
    // both flag sets scale with dup/contamination density, not the
    // corpus — unhinted left joins, AQE picks broadcast vs shuffle
    val f = flagged
      .join(nearDropped, Seq("doc_id"), "left")
      .join(contaminated, Seq("doc_id"), "left")
      .withColumn("nd_ok", col("near_dup").isNull)
      .withColumn("ct_ok", col("contam").isNull)
    // both sums coalesce: over an EMPTY corpus the global agg yields
    // NULL while the oracle's count(*) FILTER yields 0
    def stageAgg(cond: Column) = Seq(
      coalesce(sum(when(cond, 1L).otherwise(0L)), lit(0L)),
      coalesce(sum(when(cond, col("n_chars"))), lit(0L)))
    val conds = Seq(
      "0_raw" -> lit(true),
      "1_exact_dedup" -> col("e_ok"),
      "2_near_dedup" -> (col("e_ok") && col("nd_ok")),
      "3_decontaminated" -> (col("e_ok") && col("nd_ok") && col("ct_ok")),
      "4_quality" -> (col("e_ok") && col("nd_ok") && col("ct_ok") && col("q_ok")))
    val aggs = conds.flatMap { case (_, c) => stageAgg(c) }
      .zipWithIndex.map { case (a, i) => a.as(s"a$i") }
    val wide = f.agg(aggs.head, aggs.tail: _*)
    val rows = conds.zipWithIndex.map { case ((name, _), i) =>
      struct(lit(name).as("stage"),
        col(s"a${2 * i}").as("n_docs"), col(s"a${2 * i + 1}").as("n_chars"))
    }
    wide.select(explode(array(rows: _*)).as("s")).select(col("s.*"))
      .orderBy("stage")
  }

  /** Stratified sampling: exactly ceil(frac·n) documents per stratum,
    * chosen by hash rank — reproducible (the same documents every run,
    * every engine) and exactly proportional per stratum, which plain
    * hash-threshold sampling only achieves in expectation.
    *
    * The rank is a window per stratum, so work shuffles on the stratum
    * key. With low-cardinality strata and a huge corpus, a hot stratum
    * serializes into one task; the fix at that scale is selection rather
    * than ranking — approx-quantile the hash within each stratum to a
    * threshold, keep below it, and fix up the boundary bucket exactly.
    * The rank form here IS the exactness oracle for that optimization.
    */
  def stratifiedSample(df: DataFrame, stratum: Column, id: Column, frac: Double): DataFrame = {
    val w = Window.partitionBy(stratum).orderBy(hashBucketFull(id), id)
    val n = Window.partitionBy(stratum)
    df.withColumn("rn", row_number().over(w))
      .withColumn("n_stratum", count(lit(1)).over(n))
      .filter(col("rn") <= ceil(lit(frac) * col("n_stratum")))
      .drop("rn", "n_stratum")
  }

  /** Full md5 hex of the id — the per-stratum sampling order. */
  private def hashBucketFull(id: Column): Column =
    md5(id.cast("string").cast("binary"))

  /** The hot-stratum scale path for [[stratifiedSample]], result-equal
    * by construction (RetrievalSpec asserts it): instead of ranking the
    * whole stratum in one task, a per-stratum hash threshold keeps
    * ~slack·frac of the rows (hashes are uniform, so the frac-quantile
    * of the hash IS ≈frac), and only that slice is ranked exactly.
    * The single hot-stratum window task shrinks from n to ~slack·frac·n
    * rows. Correctness: if the kept slice has ≥ k rows, it provably
    * contains the true top-k (every row outside it hashes strictly
    * higher); strata where the slice came up short — possible but
    * exponentially unlikely with slack — fall back to ranking the full
    * stratum via the `deficient` flag, all inside one plan.
    */
  def stratifiedSampleThreshold(
      df: DataFrame, stratum: Column, id: Column, frac: Double,
      slack: Double = 1.5): DataFrame = {
    val withU = df
      .withColumn("__h", hashBucketFull(id))
      // numeric prefix of the hash: consistent with the hex sort order
      .withColumn("__u",
        conv(substring(col("__h"), 1, 8), 16, 10).cast("long").cast("double")
          / lit(4294967296.0))
    val counts = withU.groupBy(stratum.as("__s"))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__k", ceil(lit(frac) * col("__n")))
      .withColumn("__t", least(lit(1.0), lit(frac * slack) + lit(32.0) / col("__n")))
    val below = withU.join(broadcast(counts), stratum === col("__s"))
      .filter(col("__u") < col("__t"))
    val belowCounts = below.groupBy(col("__s").as("__s2"))
      .agg(count(lit(1)).as("__bn"))
    val flags = counts.join(belowCounts, col("__s") === col("__s2"), "left")
      .select(col("__s"), col("__k"), col("__t"),
        (coalesce(col("__bn"), lit(0L)) < col("__k")).as("__deficient"))
    val w = Window.partitionBy(stratum).orderBy(col("__h"), id)
    withU.join(broadcast(flags), stratum === col("__s"))
      .filter(col("__u") < col("__t") || col("__deficient"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= col("__k"))
      .drop("__h", "__u", "__s", "__k", "__t", "__deficient", "__rn")
  }

  /** 20% per-language reproducible sample of the documents. */
  def qStratifiedSample(spark: SparkSession, dir: String): DataFrame =
    stratifiedSample(Tables.documents(spark, dir), col("lang"), col("doc_id"), 0.2)
      .select("doc_id", "lang")
      .orderBy("doc_id")

  /** Deterministic weighted sampling (Efraimidis-Spirakis A-Res): keep
    * the k rows with the largest u^(1/w), where u is a hash-derived
    * uniform in [0,1) — higher weight ⇒ proportionally higher keep
    * probability, and the decision is a pure function of the id (no
    * rand(): reproducible across runs, engines, and task retries, like
    * every other curation op here). The top-k lowers to
    * TakeOrderedAndProject — per-partition heaps, no global sort.
    */
  def weightedSample(df: DataFrame, id: Column, weight: Column, k: Int): DataFrame = {
    // first 8 md5 hex chars as an unsigned 32-bit uniform
    val u = conv(substring(md5(id.cast("string").cast("binary")), 1, 8), 16, 10)
      .cast("long").cast("double") / lit(4294967296.0)
    df.withColumn("__k", pow(u, lit(1.0) / weight.cast("double")))
      .orderBy(col("__k").desc, id)
      .limit(k)
      .drop("__k")
  }

  /** 100 documents sampled with probability proportional to length. */
  def qWeightedSample(spark: SparkSession, dir: String): DataFrame =
    weightedSample(Tables.documents(spark, dir), col("doc_id"), col("n_chars"), 100)
      .select("doc_id", "lang", "n_chars")
      .orderBy("doc_id")

  /** Temperature-scaled domain mixture (multilingual-sampling style,
    * alpha = 0.5): the resampling weight each source needs so the mixed
    * corpus draws from source s with probability ∝ share_s^alpha instead
    * of its raw char share — upweights small domains without letting any
    * one domain dominate, the standard mixture discipline for pretraining
    * corpora. All heavy work is one groupBy(source) over the corpus
    * (partial-agg'd count/sum, one shuffle whose output is #domains
    * rows); the share normalizations run on that domain-sized result via
    * two broadcast scalar totals, so corpus scale only touches the first
    * aggregate. Char totals stay exact (long sums); the two double
    * normalizations are rounded to 6 decimals so cross-engine summation
    * order cannot surface in the last bit.
    */
  def mixtureWeights(docs: DataFrame, alpha: Double): DataFrame = {
    // corpus-sized work ends at this one two-phase aggregate; everything
    // after runs on #domains rows
    val bySource = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    // both normalization totals via a single-partition window over the
    // DOMAIN-sized result (bounded by the domain count, not the corpus —
    // unlike a naive self-crossJoin of the aggregate, which would re-scan
    // the corpus once per total)
    val all = Window.partitionBy()
    bySource
      .withColumn("share",
        col("sum_chars").cast("double") / sum(col("sum_chars")).over(all).cast("double"))
      .withColumn("w_raw", pow(col("share"), lit(alpha)))
      .withColumn("target_share", col("w_raw") / sum(col("w_raw")).over(all))
      .select(
        col("source"), col("n_docs"), col("sum_chars"),
        round(col("share"), 6).as("share"),
        round(col("target_share"), 6).as("target_share"),
        round(col("target_share") / col("share"), 6).as("weight"))
      .orderBy("source")
  }

  def qMixWeights(spark: SparkSession, dir: String): DataFrame =
    mixtureWeights(Tables.documents(spark, dir), 0.5)

  /** Temperature grid for [[qMixSweep]] — quarter steps from aggressive
    * flattening to the natural (proportional) mixture; α = 1 is the
    * identity row (every weight 1), the sanity anchor of the sweep.
    */
  val MixAlphaGrid: Array[Double] = Array(0.25, 0.5, 0.75, 1.0)

  /** Mixture-temperature sweep — the α knob's operating table, computed
    * the way every knob sweep here is: ONE corpus pass (the same
    * per-source aggregate as [[mixtureWeights]]), then the grid fans out
    * over the DOMAIN-sized rows, never the corpus. Reading down a source's
    * column shows how hard each temperature up-weights it; α = 1
    * reproduces the natural shares (weight 1 everywhere), and the chosen
    * 0.5 row equals q_mix_weights exactly (spec-pinned). Completes the
    * knob-sweep family: jaccard threshold (dedup_threshold_sweep), LSH
    * banding (dedup_lsh_calibration), IVF nProbe (ann_probe_curve), NB
    * margin (text_nb_margin) — and the mixture temperature.
    */
  def qMixSweep(spark: SparkSession, dir: String): DataFrame =
    mixtureSweepDf(Tables.documents(spark, dir))

  def mixtureSweepDf(docs: DataFrame): DataFrame = {
    val bySource = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    val perAlpha = Window.partitionBy(col("alpha"))
    bySource
      .select(explode(lit(MixAlphaGrid)).as("alpha"),
        col("source"), col("n_docs"), col("sum_chars"))
      .withColumn("share",
        col("sum_chars").cast("double") /
          sum(col("sum_chars")).over(perAlpha).cast("double"))
      .withColumn("w_raw", pow(col("share"), col("alpha")))
      .withColumn("target_share", col("w_raw") / sum(col("w_raw")).over(perAlpha))
      .select(col("alpha"), col("source"), col("n_docs"),
        round(col("share"), 6).as("share"),
        round(col("target_share"), 6).as("target_share"),
        round(col("target_share") / col("share"), 6).as("weight"))
      .orderBy("alpha", "source")
  }

  /** Epoch materialization of the mixture: every document appears
    * ⌊w⌋ times plus one more with probability frac(w), where w is its
    * domain's [[mixtureWeights]] weight — the deterministic repeat-
    * factor expansion that actually lands the target mixture in the
    * training manifest (expected copies per domain = n_docs·w exactly).
    * The extra-copy coin is the same md5-u32 uniform as the samplers,
    * so the epoch is reproducible row-for-row. Scale shape: the weight
    * table is #domains rows (broadcast); the expansion is a pure map +
    * explode of at most ⌈w⌉ ints per row, fused into the scan.
    */
  def mixtureExpand(docs: DataFrame, alpha: Double = 0.5): DataFrame = {
    val w = mixtureWeights(docs, alpha).select(col("source"), col("weight"))
    val u = conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 8), 16, 10)
      .cast("long").cast("double") / lit(4294967296.0)
    docs.select(col("doc_id"), col("source"))
      .join(broadcast(w), "source")
      .withColumn("n_copies",
        floor(col("weight")).cast("long") +
          when(u < col("weight") - floor(col("weight")), 1L).otherwise(0L))
      .filter(col("n_copies") > 0)
      .select(col("doc_id"), col("source"),
        explode(sequence(lit(1L), col("n_copies"))).as("copy_idx"))
      .orderBy("doc_id", "copy_idx")
  }

  /** Water-filling budget allocation under a repetition cap — the
    * data-constrained mixture design (Muennighoff et al. 2023: repeating
    * data beyond ~4 epochs stops helping, so a budget-constrained corpus
    * assembly repeats the SCARCE slices up to the cap and subsamples the
    * DOMINANT one): given a global character budget B = `budgetEpochs` ×
    * total corpus chars and a per-slice capacity c_i = `epochCap` ×
    * chars_i, allocate a_i = min(c_i, λ) where the water level λ makes
    * Σ a_i = B. Distinct from [[mixtureWeights]] (α-temperature reshapes
    * SHARES with no budget semantics); this solves the constrained
    * allocation exactly.
    *
    * Closed form over slices SORTED by capacity ascending: with the k-1
    * smallest slices capped, the candidate level is
    * λ_k = (B − P_{k−1}) / (n − k + 1); the true level is the FIRST
    * valid candidate (λ_k ≤ c_k) = the MAX over valid candidates:
    * candidates before k* are invalid by construction, and for k > k*,
    * B − P_{k−1} = (n−k*+1)λ* − Σ_{j=k*}^{k−1} c_j ≤ (n−k+1)λ* since
    * every intervening capacity is ≥ λ*, so later valid candidates can
    * only UNDERSHOOT (min would silently underspend the budget whenever
    * ≥2 slices are uncapped — caught by review, spec now pins a
    * 3-uncapped-slice case). If B ≥ Σc every slice caps (λ absent —
    * coalesce to capacity).
    *
    * Scale shape: corpus-sized work ends at the per-slice aggregate;
    * the sort + prefix-sum windows run on #slices rows (the
    * mixtureWeights discipline). Cross-engine exactness: capacities and
    * prefix sums are exact BIGINTs; λ is ONE division of exact-valued
    * doubles and epochs one more — identical IEEE ops both engines, so
    * the unrounded doubles hash-match without any rounding grid.
    */
  def mixtureWaterfill(
      docs: DataFrame, epochCap: Int = 2, budgetEpochs: Double = 1.5): DataFrame = {
    val byLang = docs.groupBy(col("lang")).agg(sum(col("n_chars")).as("chars"))
    val all = Window.partitionBy()
    val asc = Window.partitionBy().orderBy(col("capacity"), col("lang"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val t = byLang
      .withColumn("capacity", col("chars") * epochCap)
      .withColumn("budget", sum(col("chars")).over(all).cast("double") * budgetEpochs)
      .withColumn("k", row_number().over(
        Window.partitionBy().orderBy(col("capacity"), col("lang"))))
      .withColumn("n", count(lit(1)).over(all))
      .withColumn("p", sum(col("capacity")).over(asc))
    val lam = (col("budget") - (col("p") - col("capacity")).cast("double")) /
      (col("n") - col("k") + 1).cast("double")
    t.withColumn("lam", lam)
      .withColumn("level",
        max(when(col("lam") <= col("capacity").cast("double"), col("lam"))).over(all))
      .select(
        col("lang"), col("chars").as("sum_chars"), col("capacity"),
        least(col("capacity").cast("double"),
          coalesce(col("level"), col("capacity").cast("double"))).as("alloc_chars"),
        (least(col("capacity").cast("double"),
          coalesce(col("level"), col("capacity").cast("double")))
          / col("chars").cast("double")).as("epochs"))
      .orderBy("lang")
  }

  def qMixWaterfill(spark: SparkSession, dir: String): DataFrame =
    mixtureWaterfill(Tables.documents(spark, dir))

  /** Content-addressed corpus fingerprint — the provenance primitive a
    * dataset-versioning workflow pins a training run to: per source,
    * the doc count plus two ORDER-INSENSITIVE folds of the per-document
    * content hash (60-bit md5 prefix — 15 hex chars so the value is
    * always a positive BIGINT in both engines): a bit_xor fold and an
    * exact integer sum. Insertion order, partitioning, and shard layout
    * cannot change the fingerprint; any single changed/added/dropped
    * document almost surely does (the two independent folds make a
    * coincidental collision on both ~2⁻¹²⁰). Both folds are MERGEABLE:
    * shard fingerprints combine by xor / addition into the corpus
    * fingerprint without touching the documents again (RetrievalSpec
    * asserts the fold of per-source rows equals the whole-corpus row),
    * which is what makes this O(shards) to maintain incrementally at
    * 100 TB. The sum rides DECIMAL(38,0) (exact to ~10³⁸, i.e. ~10²⁰
    * docs) and is EMITTED AS ITS DECIMAL-DIGIT STRING: a fingerprint is
    * an identifier, not arithmetic — and a DOUBLE emission is not even
    * portable (DuckDB 1.0's HUGEINT→DOUBLE cast is off nearest-even by
    * 1 ulp on ~2⁶⁷ sums where the JVM BigDecimal rounds correctly;
    * measured on src8 at sf0.1).
    */
  def corpusFingerprint(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val h = conv(substring(md5(col("text").cast("binary")), 1, 15), 16, 10).cast("long")
    docs.select(col("source"), h.as("h"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        expr("bit_xor(h)").as("fp_xor"),
        sum(col("h").cast(DecimalType(38, 0))).cast("string").as("fp_sum"))
      .orderBy("source")
  }

  def qCorpusFingerprint(spark: SparkSession, dir: String): DataFrame =
    corpusFingerprint(Tables.documents(spark, dir))

  def qMixExpand(spark: SparkSession, dir: String): DataFrame =
    mixtureExpand(Tables.documents(spark, dir))

  /** SAMPLED ESTIMATOR WITH CONFIDENCE INTERVAL — the measurement
    * discipline behind every sampled operator in this repo (sampled
    * sweep, artifact audits, quantizer training), stated as a query: at
    * 100 TB, corpus statistics are ESTIMATED from the fixed splitmix64
    * hash sample, not scanned — and an estimate without an interval is
    * a guess. Per metric (mean tokens / mean chars per document) this
    * emits the sample estimate, the 95% normal-approximation interval
    * (z = 1.96, infinite-population form — the corpus dwarfs the
    * sample), and — in this demonstration form only — the exact corpus
    * mean with its within-interval flag, so the driver's oracle gate
    * re-verifies the estimator's honesty at every SF.
    *
    * Determinism across engines: the sample legs aggregate INTEGER
    * sums (count, Σx, Σx²), so mean and variance derive from exact
    * integers through an identical double expression tree on both
    * sides — no float-reduction-order hazard; outputs round to 4 dp and
    * the within flag compares the ROUNDED values, so both engines make
    * the identical comparison.
    */
  def sampleCiDf(docs: DataFrame, n: Int = Dedup.SweepSampleDocs): DataFrame = {
    // the ONE shared splitmix64 draw (Audit.hashSample — already
    // checkpointed; both metric legs aggregate the same 1024 rows)
    val sample = Audit.hashSample(docs, "doc_id", n)
      .select(col("doc_id"),
        size(graft.functions.TextFns.tokens(col("text"))).cast("long").as("v_tok"),
        col("n_chars").as("v_chars"))
    // ONE fused exact pass serves both metrics (the demonstration
    // form's only corpus-sized work)
    val exact = docs.agg(
      count(lit(1)).as("ne"),
      sum(size(graft.functions.TextFns.tokens(col("text"))).cast("long")).as("se_tok"),
      sum(col("n_chars")).as("se_chars")).localCheckpoint()
    def metricRow(name: String, c: String): DataFrame = {
      val s = sample.agg(count(lit(1)).as("n"), sum(col(c)).as("s"),
        sum(col(c) * col(c)).as("ss"))
      val e = exact.select(col("ne"),
        (if (c == "v_tok") col("se_tok") else col("se_chars")).as("se"))
      s.crossJoin(e).select(
        lit(name).as("metric"), col("n").as("n_sample"),
        col("n"), col("s"), col("ss"), col("ne"), col("se"))
        .withColumn("mean", col("s").cast("double") / col("n"))
        // n ≤ 1 has no sample variance: emit a zero-width interval
        // instead of NaN (0/0) so the report stays readable
        .withColumn("sd", when(col("n") > 1, sqrt(greatest(
          (col("ss").cast("double") - col("s").cast("double") * col("s").cast("double")
            / col("n")) / (col("n") - 1), lit(0.0)))).otherwise(lit(0.0)))
        .withColumn("half", lit(1.96) * col("sd") / sqrt(col("n").cast("double")))
        .select(
          col("metric"), col("n_sample"),
          round(col("mean"), 4).as("est_mean"),
          round(col("mean") - col("half"), 4).as("ci_lo"),
          round(col("mean") + col("half"), 4).as("ci_hi"),
          round(col("se").cast("double") / col("ne"), 4).as("exact_mean"))
        .withColumn("within_ci",
          col("exact_mean") >= col("ci_lo") && col("exact_mean") <= col("ci_hi"))
    }
    metricRow("chars", "v_chars").unionByName(metricRow("tok", "v_tok"))
      .orderBy("metric")
  }

  def qSampleCi(spark: SparkSession, dir: String): DataFrame =
    sampleCiDf(Tables.documents(spark, dir))

  /** Corpus snapshot delta — the audit a daily corpus build runs between
    * yesterday's and today's versions: full outer join on the stable doc
    * id, rows classified added / removed / changed / unchanged by
    * content hash. The join shuffles both snapshots on doc_id (or
    * neither, when snapshots are written bucketed by doc_id — the layout
    * a versioned corpus store should use); the md5 compare is a pure map
    * and the aggregated report is 4 rows regardless of corpus size.
    */
  def snapshotDiff(prev: DataFrame, cur: DataFrame): DataFrame = {
    val a = prev.select(col("doc_id"), md5(col("text").cast("binary")).as("hash_a"))
    val b = cur.select(col("doc_id"), md5(col("text").cast("binary")).as("hash_b"))
    a.join(b, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("hash_a").isNull, "added")
          .when(col("hash_b").isNull, "removed")
          .when(col("hash_a") =!= col("hash_b"), "changed")
          .otherwise("unchanged"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy("status")
  }

  /** Driver entry: deterministic synthetic snapshots carved from the one
    * documents table — yesterday misses doc_id ≡ 0 (mod 13) (today's
    * adds), today drops doc_id ≡ 5 (mod 17) (deletes) and re-edits
    * doc_id ≡ 2 (mod 11) (changes).
    */
  def qSnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val prev = docs.filter(pmod(col("doc_id"), lit(13)) =!= 0)
    val cur = docs.filter(pmod(col("doc_id"), lit(17)) =!= 5)
      .withColumn("text",
        when(pmod(col("doc_id"), lit(11)) === 2, concat(col("text"), lit(" [rev2]")))
          .otherwise(col("text")))
    snapshotDiff(prev, cur)
  }

  /** Cross-split contamination audit: the verified near-duplicate pairs
    * of [[Dedup.dedupMinhash]] grouped by the split labels of their two
    * endpoints — the check a corpus build runs AFTER splitting, because
    * a near-duplicate of a test document sitting in train silently
    * defeats the held-out evaluation (dedup-then-split or this audit is
    * mandatory; Lee et al. 2022 measure the effect). Split labels are
    * canonically ordered per pair (least/greatest) so (train,test) and
    * (test,train) aggregate as one row; any row with split_lo ≠ split_hi
    * is leakage.
    *
    * Scale shape: the pair pipeline is LSH-bucket-bounded (never
    * corpus²), split assignment is a pure hash map on the pair row, and
    * the rollup is ≤6 rows regardless of corpus size.
    */
  def qSplitLeakage(spark: SparkSession, dir: String): DataFrame =
    Dedup.verifiedPairs(spark, dir)
      .select(
        least(splitAssign(col("doc_a")), splitAssign(col("doc_b"))).as("split_lo"),
        greatest(splitAssign(col("doc_a")), splitAssign(col("doc_b"))).as("split_hi"),
        col("jaccard"))
      .groupBy(col("split_lo"), col("split_hi"))
      .agg(count(lit(1)).as("n_pairs"), max(col("jaccard")).as("max_jaccard"))
      .orderBy("split_lo", "split_hi")

  /** Split-representativeness report — the measurement a pipeline runs
    * before trusting hash-split evaluation numbers: for each split and
    * each categorical dimension (lang, source), the total-variation
    * distance between the split's distribution and the WHOLE-corpus
    * distribution, plus the single worst-deviating value. A hash split
    * should be representative by construction; a large TVD on any
    * dimension means the split is too small for that dimension's tail
    * (or the hash is correlated with it) and per-slice eval numbers
    * from it are noise. Completes the split triple: [[qSplitAssign]]
    * (sizes), [[qSplitLeakage]] (near-dup contamination across splits),
    * and this (representativeness).
    *
    * Exactness: TVD = ½ Σ_v |p_v − q_v| over shares p_v = n_sv/n_s and
    * q_v = n_v/n is computed as Σ_v |n_sv·n − n_v·n_s| / (2·n_s·n) —
    * INTEGER numerators summed exactly, ONE final double division — so
    * the report is hash-stable with no decimal quantization at all; the
    * worst value is the integer-numerator argmax with a value
    * tie-break.
    *
    * Scale shape: corpus-sized work is the one (split, dim, value)
    * count aggregate (map-side partial); everything downstream runs on
    * the values×splits grid, bounded by the dimensions' cardinality.
    */
  def qSplitReport(spark: SparkSession, dir: String): DataFrame =
    splitReportDf(Tables.documents(spark, dir))

  /** The corpus-sized head of [[splitReportDf]]: ONE scan fans both
    * dimensions out through a 2-element struct array per row (not a
    * self-union, which would scan the corpus per leg) into the bounded
    * (split, dim, value) count table. Factored un-checkpointed so
    * PlanSpec can pin the single-scan, text-pruned shape that the
    * report's materialization then hides from the final plan.
    */
  private[graft] def splitDimCounts(docs: DataFrame): DataFrame =
    docs
      .select(splitAssign(col("doc_id")).as("split"),
        explode(array(
          struct(lit("lang").as("dim"), col("lang").as("value")),
          struct(lit("source").as("dim"), col("source").as("value")))).as("dv"))
      .select(col("split"), col("dv.dim").as("dim"), col("dv.value").as("value"))
      .groupBy(col("split"), col("dim"), col("value"))
      .agg(count(lit(1)).as("n_sv"))

  def splitReportDf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the cross-multiplied TVD numerator n_sv·n − n_v·n_s runs in
    // DECIMAL(38,0) (DuckDB: HUGEINT): each product is ≤ n² which
    // overflows BIGINT once the corpus passes ~3.04e9 docs (√2⁶³), and
    // Spark would wrap silently where DuckDB raises. 38 digits hold any
    // BIGINT-countable corpus (n² < 8.6e37 at n = 2⁶³−1); only the
    // grid-wide num SUM could theoretically pass 1e38, and that needs
    // n > 7.6e18 — beyond any corpus countable in the engine's own
    // row-count type.
    val d380 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    // the bounded (split, dim, value) aggregate is materialized once for
    // its four downstream consumers
    val cnt = splitDimCounts(docs).localCheckpoint()
    // bounded frames from here on: values per dim × splits
    val values = cnt.groupBy(col("dim"), col("value")).agg(sum(col("n_sv")).as("n_v"))
    val splits = cnt.select(col("split")).distinct()
    val nS = cnt.filter(col("dim") === "lang")
      .groupBy(col("split")).agg(sum(col("n_sv")).as("n_s"))
    val nTot = nS.agg(sum(col("n_s")).as("n"))
    // null-safe value equality: a NULL lang/source is a real category
    // (its corpus share must compare against its split share, not
    // against a fabricated zero)
    val grid = values.crossJoin(splits)
      .join(cnt.withColumnRenamed("split", "c_split")
          .withColumnRenamed("dim", "c_dim").withColumnRenamed("value", "c_value"),
        col("split") === col("c_split") && col("dim") === col("c_dim") &&
          col("value") <=> col("c_value"), "left")
      .drop("c_split", "c_dim", "c_value")
      .withColumn("n_sv", coalesce(col("n_sv"), lit(0L)))
      .join(broadcast(nS), "split")
      .crossJoin(broadcast(nTot))
      .withColumn("num",
        abs(col("n_sv").cast(d380) * col("n") - col("n_v").cast(d380) * col("n_s")))
    val w = Window.partitionBy(col("split"), col("dim"))
      .orderBy(col("num").desc, col("value").asc_nulls_first)
    grid
      .withColumn("rk", row_number().over(w))
      .groupBy(col("split"), col("dim"))
      .agg(
        first(col("n_s")).as("n_docs"),
        first(col("n")).as("n"),
        sum(col("num")).as("num_sum"),
        max(when(col("rk") === 1, col("value"))).as("worst_value"),
        max(when(col("rk") === 1, col("num"))).as("worst_num"))
      .select(col("split"), col("dim"), col("n_docs"),
        round(col("num_sum").cast("double") /
          (lit(2.0) * col("n_docs") * col("n")), 6).as("tvd"),
        col("worst_value"),
        // cast the denominator factors to double BEFORE multiplying —
        // n_docs·n as a Long product wraps at the same ~3e9-doc bound
        // the numerator fix closes
        round(col("worst_num").cast("double") /
          (col("n_docs").cast("double") * col("n").cast("double")), 6).as("worst_gap"))
      .orderBy("split", "dim")
  }

  /** Per-key cap-k by hash rank — the RefinedWeb-style per-domain
    * frequency cap: no source may contribute more than k documents, the
    * kept k chosen by md5 order so the selection is reproducible and
    * unbiased (the hash is independent of content and position). This is
    * the plain rank form — one window per key — and doubles as the
    * exactness oracle for [[capPerKeyThreshold]].
    */
  def capPerKey(df: DataFrame, key: Column, id: Column, k: Int): DataFrame = {
    val w = Window.partitionBy(key).orderBy(hashBucketFull(id), id)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** Hot-key scale path for [[capPerKey]], result-equal by construction
    * (RetrievalSpec asserts it, same argument as
    * [[stratifiedSampleThreshold]]): a web-scale corpus has a handful of
    * giant domains, and ranking one of them in a single window task
    * serializes the job. Instead, each key keeps only rows whose
    * hash-uniform falls below ~slack·k/n (+32/n noise floor) — an
    * expected slack·k rows — and ranks just that slice: if the slice has
    * ≥min(k,n) rows it provably contains the true hash-order top-k
    * (everything outside hashes strictly higher); the exponentially-rare
    * short slice falls back to ranking the full key via the `deficient`
    * flag, inside the same plan. The per-key count/flag tables are
    * #domains-sized but NOT hint-broadcast — domain cardinality grows
    * with the corpus (millions of hosts at web scale), so the equi-join
    * strategy is left to AQE, which broadcasts exactly while it still
    * fits (the q_market_basket lesson from round 10). Key joins are
    * null-safe (`<=>`), so a NULL key behaves like any other key — the
    * same group the rank form's window gives it. Cost shape: `withU` is
    * referenced by three branches, so the (pruned, id+key-only) scan
    * runs up to three times — deliberate: the reused rows are too wide
    * a fraction of the corpus to pin in executor memory, and the scan
    * is two narrow columns plus an md5.
    */
  def capPerKeyThreshold(
      df: DataFrame, key: Column, id: Column, k: Int,
      slack: Double = 1.5): DataFrame = {
    val withU = df
      .withColumn("__h", hashBucketFull(id))
      .withColumn("__u",
        conv(substring(col("__h"), 1, 8), 16, 10).cast("long").cast("double")
          / lit(4294967296.0))
    val counts = withU.groupBy(key.as("__s"))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__t", least(lit(1.0), (lit(slack * k) + lit(32.0)) / col("__n")))
    val below = withU.join(counts, key <=> col("__s")).filter(col("__u") < col("__t"))
    val belowCounts = below.groupBy(col("__s").as("__s2"))
      .agg(count(lit(1)).as("__bn"))
    val flags = counts.join(belowCounts, col("__s") <=> col("__s2"), "left")
      .select(col("__s"), col("__t"),
        (coalesce(col("__bn"), lit(0L)) < least(lit(k.toLong), col("__n"))).as("__deficient"))
    val w = Window.partitionBy(key).orderBy(col("__h"), id)
    withU.join(flags, key <=> col("__s"))
      .filter(col("__u") < col("__t") || col("__deficient"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__h", "__u", "__s", "__t", "__deficient", "__rn")
  }

  /** Documents surviving an 18-per-source cap. */
  def qDomainCap(spark: SparkSession, dir: String): DataFrame =
    capPerKeyThreshold(Tables.documents(spark, dir), col("source"), col("doc_id"), 18)
      .select("doc_id", "source")
      .orderBy("doc_id")

  /** Per-key token-budget selection: spend a fixed character budget per
    * source on its HIGHEST-quality documents — the final assembly step
    * of a curated corpus, where the mixture prescribes how many tokens
    * each domain may contribute and quality decides which ones. Docs are
    * ranked per source by stopword-ratio (the [[TextStats]] quality
    * signal; any score column drops in) and kept while the running char
    * total stays within budget — a cumulative-sum window per source.
    *
    * Scale shape: quality is one compiled pass fused into the scan; the
    * only exchange is the per-source window. A hot source serializes its
    * window task; the fix mirrors [[capPerKeyThreshold]] with the hash
    * replaced by the quality score — approx-quantile the score to the
    * budget's expected cutoff, keep above it, rank only that slice.
    */
  def tokenBudgetSelect(
      docs: DataFrame, budgetChars: Long,
      stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")): DataFrame = {
    val st = TextStats(col("text"), stopwords)
    val w = Window.partitionBy(col("source")).orderBy(col("__q").desc, col("doc_id"))
    docs
      .withColumn("st", st)
      .withColumn("__q",
        col("st.stopword_hits").cast("double") / col("st.n_tokens"))
      .withColumn("cum_chars", sum(col("n_chars")).over(w))
      .filter(col("cum_chars") <= budgetChars)
      .select(col("doc_id"), col("source"),
        round(col("__q"), 4).as("quality"), col("cum_chars"))
  }

  /** Hot-source scale path for [[tokenBudgetSelect]], result-equal BY
    * CONSTRUCTION (RetrievalSpec asserts it): the quality score is a
    * ratio in [0,1], so bucket it onto a fixed 256-cell grid and build a
    * per-(source, bucket) char histogram — ≤256 rows per source no
    * matter how big the source is. Walking the histogram from the top
    * finds the LOWEST bucket b_t whose strictly-above cumulative chars
    * still falls short of the budget; every kept doc provably lies in
    * buckets ≥ b_t (docs below are strictly lower-quality than the whole
    * slice, and the slice's char mass ≥ budget — or the slice is the
    * entire source), so only that slice is ranked exactly. Unlike an
    * approx-quantile cutoff this is EXACT and partition-invariant — no
    * deficiency fallback needed — and the slice overshoot is bounded by
    * one bucket's char mass. The histogram/threshold tables scale with
    * source cardinality and stay unhinted (AQE chooses the join
    * strategy, same discipline as [[capPerKeyThreshold]]); the source
    * join is null-safe. Cost shape: TWO quality passes by design (the
    * textVocabOov two-pass discipline) — the histogram pass and the
    * final-selection pass each run the compiled TextStats scan; at a
    * scale where the double text read dominates, persist `base`'s
    * four narrow columns between the passes.
    */
  def tokenBudgetSelectThreshold(
      docs: DataFrame, budgetChars: Long,
      stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")): DataFrame = {
    val st = TextStats(col("text"), stopwords)
    val base = docs
      .withColumn("st", st)
      .withColumn("__q",
        col("st.stopword_hits").cast("double") / col("st.n_tokens"))
      .select(col("doc_id"), col("source"), col("n_chars"), col("__q"))
      .withColumn("__b", floor(col("__q") * 255).cast("int"))
    val whist = Window.partitionBy(col("__s")).orderBy(col("__hb").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val thr = base.groupBy(col("source").as("__s"), col("__b").as("__hb"))
      .agg(sum(col("n_chars")).as("__bc"))
      .withColumn("__above", coalesce(sum(col("__bc")).over(whist), lit(0L)))
      .filter(col("__above") < budgetChars)
      .groupBy(col("__s")).agg(min(col("__hb")).as("__bt"))
    val w = Window.partitionBy(col("source")).orderBy(col("__q").desc, col("doc_id"))
    base.join(thr, col("source") <=> col("__s"))
      .filter(col("__b") >= col("__bt"))
      .withColumn("cum_chars", sum(col("n_chars")).over(w))
      .filter(col("cum_chars") <= budgetChars)
      .select(col("doc_id"), col("source"),
        round(col("__q"), 4).as("quality"), col("cum_chars"))
  }

  /** 2000-char budget per source, best-stopword-ratio first (histogram-
    * cutoff scale path; [[tokenBudgetSelect]] is the exactness oracle).
    */
  def qTokenBudget(spark: SparkSession, dir: String): DataFrame =
    tokenBudgetSelectThreshold(Tables.documents(spark, dir), 2000L)
      .orderBy("doc_id")

  /** Deterministic training-shard export audit: every document lands in
    * shard md5u32(doc_id) mod S with a within-shard order given by the
    * full hash — a reproducible global shuffle of the corpus into S
    * equal-sized sequential-read shards (what a training job consumes),
    * with no global sort: the shard id is a pure map and the real write
    * is `repartition(S, shard).sortWithinPartitions(hash)` — one
    * hash-partition exchange, per-shard local sort, linear at any scale.
    * This query emits the per-shard manifest a sharded export would be
    * audited by: row/char totals plus the first/last doc in shard order
    * (min_by/max_by over the hash — order-sensitive, so it pins the
    * within-shard ordering cross-engine without materializing it).
    * The string-ordered min_by buffer forces SortAggregate over
    * HashAggregate (string agg buffers aren't UnsafeRow-mutable); the
    * partials still combine MAP-SIDE, so the exchange moves S rows per
    * task regardless of corpus size — PlanSpec asserts exactly that.
    */
  def shuffleShards(docs: DataFrame, shards: Int): DataFrame = {
    val h = hashBucketFull(col("doc_id"))
    docs
      .withColumn("__h", h)
      .withColumn("shard",
        conv(substring(col("__h"), 1, 8), 16, 10).cast("long") % shards)
      .groupBy(col("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        min_by(col("doc_id"), col("__h")).as("first_doc"),
        max_by(col("doc_id"), col("__h")).as("last_doc"))
      .orderBy("shard")
  }

  def qShuffleShards(spark: SparkSession, dir: String): DataFrame =
    shuffleShards(Tables.documents(spark, dir), 8)

  /** Filter-funnel report (Dolma-style pipeline observability): ordered
    * quality gates, every document attributed to the FIRST gate it
    * fails, one count row per gate plus the survivor row — the report a
    * corpus build publishes so a threshold change can be audited before
    * committing to a full rebuild. Gates reuse the engine's single-pass
    * native signals ([[TextStats]], [[graft.functions.RepetitionStats]],
    * [[LangId]]); every comparison runs on the RAW double ratios (no
    * rounding), so the decision is the same IEEE arithmetic in both
    * engines and the oracle needs no round-tie caveats.
    *
    * Scale shape: all four signals come from per-row compiled passes
    * fused into the scan; the report is one map-side-combined aggregate
    * of ≤5 groups — corpus-size-independent exchange.
    */
  def filterFunnel(docs: DataFrame): DataFrame = {
    val st = TextStats(col("text"), Seq("the", "a", "of", "and", "to", "in"))
    val rep = graft.functions.RepetitionStats(col("text"))
    val pred = LangId(col("text"))
    docs
      .withColumn("st", st)
      .withColumn("rep", rep)
      .withColumn("punct_ratio", col("st.n_punct").cast("double") / col("st.n_chars"))
      .withColumn("mean_token_len",
        col("st.sum_token_len").cast("double") / col("st.n_tokens"))
      .withColumn("dup_word_frac",
        lit(1.0) - col("rep.n_distinct").cast("double") / col("rep.n_tokens"))
      .withColumn("first_fail",
        when(col("n_chars") < 150, "1_too_short")
          .when(col("punct_ratio") > 0.2 ||
            !col("mean_token_len").between(2.0, 15.0), "2_quality")
          .when(pred.getField("lang") =!= col("lang"), "3_lang_mismatch")
          .when(col("dup_word_frac") > 0.6, "4_repetitive")
          .otherwise("pass"))
      .groupBy(col("first_fail"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy("first_fail")
  }

  def qFilterFunnel(spark: SparkSession, dir: String): DataFrame =
    filterFunnel(Tables.documents(spark, dir))

  /** Delete-propagation (right-to-be-forgotten) BLAST-RADIUS report —
    * the compliance question every shipped corpus eventually gets:
    * given a delete set, what derived artifacts does the deletion
    * invalidate, and how much rebuild does honoring it cost? One long
    * (artifact, metric, value) row per impact:
    *
    *   - `documents`: docs and chars removed — the raw obligation.
    *   - `pack_manifest`: training sequences whose token span overlaps
    *     a deleted document (every such sequence must be re-emitted —
    *     concat-and-chunk packing entangles neighbors, so the radius
    *     exceeds the deleted docs themselves) and the tokens dropped.
    *   - `dup_graph`: verified near-dup pairs removed; component count
    *     before vs AFTER restricting to surviving endpoints (deleting a
    *     bridge document can SPLIT a cluster — the survivors stop being
    *     mutual duplicates, which changes every downstream survivor
    *     election); canonical re-elections (components whose min member
    *     is deleted while members survive — their cluster id, and any
    *     key derived from it, changes).
    *
    * 100 TB shape: the delete list is checkpointed (delete-sized); the
    * pack manifest is the MAINTAINED artifact (`manifest` — callers
    * read the stored [[graft.ext.Packing.ensureManifest]] state, never
    * a per-report repack: re-deriving the prefix sum per invocation is
    * a full corpus pass per compliance report, exactly the cost the
    * maintained store exists to amortize) and its deleted-row slice is
    * delete-sized, checkpointed before the two manifest metrics read
    * it; the pair table is computed once, checkpointed (pair-sized),
    * and feeds all four graph metrics through one takedown closure pair
    * ([[Cluster.closures]]: before/after, run concurrently, never on the
    * corpus). Every output leg is a 1-row aggregate; the report is 8 rows.
    */
  def deleteImpactDf(docs: DataFrame, manifest: DataFrame,
      deletedIds: DataFrame, pairs: DataFrame): DataFrame = {
    val del = Dedup.deleteSet(deletedIds)
    def metric(artifact: String, name: String, v: DataFrame): DataFrame =
      v.select(lit(artifact).as("artifact"), lit(name).as("metric"),
        col(v.columns.head).cast("long").as("value"))
    // documents: one scan, 1-row checkpoint read by both metrics
    val dStats = docs.join(del, Seq("doc_id"))
      .agg(count(lit(1)).as("n"), coalesce(sum(col("n_chars")), lit(0L)).as("c"))
      .localCheckpoint()
    // pack manifest: the stored artifact's deleted-row slice is
    // delete-sized, checkpointed before the two metrics that read it
    val man = manifest.join(del, Seq("doc_id"))
      .select("doc_id", "n_tok", "seq_id", "n_seqs").localCheckpoint()
    val seqsInvalidated = man.filter(col("n_tok") > 0)
      .select(explode(sequence(col("seq_id"),
        col("seq_id") + col("n_seqs") - 1)).as("sq"))
      .agg(countDistinct(col("sq")).as("v"))
    val tokensDropped = man.agg(coalesce(sum(col("n_tok")), lit(0L)).as("v"))
    // dup graph: the pair table computed once, closed before and after
    // the delete (the surviving pairs are its served view), and every
    // graph metric read from that closure pair
    val p = pairs.select(col("doc_a"), col("doc_b")).localCheckpoint()
    val after = Dedup.pairsServed(p, del)
    val (lb, la) = Cluster.closures(p, after)
    // rows before minus rows after, as one signed count
    val pairsRemoved = p.select(lit(1L).as("w"))
      .unionByName(after.select(lit(-1L).as("w")))
      .agg(coalesce(sum(col("w")), lit(0L)).as("v"))
    val componentsBefore = lb.agg(countDistinct(col("cluster_id")).as("v"))
    val componentsAfter = la.agg(countDistinct(col("cluster_id")).as("v"))
    // a canonical is re-elected when it is deleted while a member survives
    val reelected = lb
      .join(del.select(col("doc_id").as("cluster_id")), Seq("cluster_id"), "left_semi")
      .join(del, Seq("doc_id"), "left_anti")
      .agg(countDistinct(col("cluster_id")).as("v"))
    metric("documents", "chars_deleted", dStats.select(col("c")))
      .unionByName(metric("documents", "docs_deleted", dStats.select(col("n"))))
      .unionByName(metric("dup_graph", "canonicals_reelected", reelected))
      .unionByName(metric("dup_graph", "components_after", componentsAfter))
      .unionByName(metric("dup_graph", "components_before", componentsBefore))
      .unionByName(metric("dup_graph", "pairs_removed", pairsRemoved))
      .unionByName(metric("pack_manifest", "seqs_invalidated", seqsInvalidated))
      .unionByName(metric("pack_manifest", "tokens_dropped", tokensDropped))
      .orderBy("artifact", "metric")
  }

  /** Driver entry: the registered delete set is the standing takedown
    * ([[Dedup.standingTakedown]], one full source). The manifest leg
    * reads the MAINTAINED pack manifest ([[graft.ext.Packing.ensureManifest]],
    * the same staged artifact `q_manifest_audit`/`q_manifest_served`
    * read) — the report never repacks the corpus.
    */
  def qDeleteImpact(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    deleteImpactDf(docs,
      graft.ops.Publish.readLive(spark, Packing.ensureManifest(spark, dir)),
      Dedup.standingTakedown(docs),
      Dedup.verifiedPairs(spark, dir).select("doc_a", "doc_b"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_delete_impact" -> (qDeleteImpact _),
    "q_filter_funnel" -> (qFilterFunnel _),
    "q_domain_cap" -> (qDomainCap _),
    "q_token_budget" -> (qTokenBudget _),
    "q_shuffle_shards" -> (qShuffleShards _),
    "q_split_leakage" -> (qSplitLeakage _),
    "q_mix_weights" -> (qMixWeights _),
    "q_mix_sweep" -> (qMixSweep _),
    "q_mix_expand" -> (qMixExpand _),
    "q_mix_waterfill" -> (qMixWaterfill _),
    "q_corpus_fingerprint" -> (qCorpusFingerprint _),
    "q_sample_ci" -> (qSampleCi _),
    "q_snapshot_diff" -> (qSnapshotDiff _),
    "q_weighted_sample" -> (qWeightedSample _),
    "q_split_assign" -> (qSplitAssign _),
    "q_split_report" -> (qSplitReport _),
    "q_sample_hash" -> (qSampleHash _),
    "q_curate" -> (qCurate _),
    "q_corpus_build" -> (qCorpusBuild _),
    "q_stratified_sample" -> (qStratifiedSample _),
  )

  /** The α=0.5 mixture-target CTE chain (`s`/`t`/`r`, plus `tgt(source,
    * target_share)` at the registered 6-dp rounding) — ONE definition
    * behind the q_mix_weights oracle and the streaming mix monitor's, so
    * the target a monitor alarms against can never drift from the
    * registered mixture design.
    */
  private[graft] val mixTargetCtes: String =
    """s AS (
      |  SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |  FROM documents GROUP BY 1),
      |t AS (
      |  SELECT *, CAST(sum_chars AS DOUBLE) /
      |            CAST((SELECT sum(sum_chars) FROM s) AS DOUBLE) AS share FROM s),
      |r AS (SELECT *, pow(share, 0.5) AS w_raw FROM t),
      |tgt AS (SELECT source, round(w_raw / (SELECT sum(w_raw) FROM r), 6) AS target_share
      |        FROM r)""".stripMargin

  private[ext] def splitSqlFor(c: String) =
    s"""CASE WHEN substr(md5(CAST($c AS VARCHAR)), 1, 2) < 'cd' THEN 'train'
       |     WHEN substr(md5(CAST($c AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
       |     ELSE 'test' END""".stripMargin

  private val splitSql = splitSqlFor("doc_id")

  // langid argmax structs generated from the SAME profile list the Spark
  // side scores with (mirrors Text.oracles("text_langid"))
  private def langStructs: String = TextFns.langProfiles.map { case (code, words) =>
    val lst = words.map(w => s"'$w'").mkString("[", ",", "]")
    s"{score: CAST(len(list_filter(w, x -> list_contains($lst, x))) AS DOUBLE) / greatest(len(w), 1), lang: '$code'}"
  }.mkString(",\n        ")

  /** SQL mirror of the [[curateSignals]] gate columns (punctuation ratio
    * and mean token length from `$a.text` — pass the table alias with
    * its dot, or "" when unqualified). ONE definition shared by the
    * q_curate oracle and the corpus-build funnel oracle.
    */
  private[graft] def gateColsSql(a: String): String =
    s"""round(CAST(length(regexp_replace(${a}text, '[^[:punct:]]', '', 'g')) AS DOUBLE)
       |               / length(${a}text), 4) AS punct_ratio,
       |         round(CAST(list_sum(list_transform(string_split_regex(trim(${a}text), '\\s+'),
       |               x -> length(x))) AS DOUBLE)
       |               / len(string_split_regex(trim(${a}text), '\\s+')), 4) AS mean_token_len""".stripMargin

  /** SQL mirror of the langid prediction: argmax over [[langStructs]]
    * scored on `$src`'s lowered token list `w`, as a CTE body ending in
    * `(l_doc_id, lang_pred)`. Shared like [[gateColsSql]].
    */
  private[graft] def langPredCteBody(src: String): String =
    s"""SELECT doc_id AS l_doc_id, (list_sort([
       |        $langStructs], 'DESC'))[1].lang AS lang_pred
       |      FROM $src""".stripMargin

  val oracles: Map[String, String] = Map(
    // identical double expression tree over exact integer sums (count,
    // Σx, Σx²) on both engines — the sample rule is the repo-wide
    // hash-sample chain; within_ci compares the rounded emissions
    "q_sample_ci" -> {
      def row(name: String, vexpr: String) =
        s"""SELECT '$name' AS metric, n AS n_sample,
           |       round(mean, 4) AS est_mean,
           |       round(mean - half, 4) AS ci_lo,
           |       round(mean + half, 4) AS ci_hi,
           |       round(CAST(se AS DOUBLE) / ne, 4) AS exact_mean,
           |       round(CAST(se AS DOUBLE) / ne, 4) >= round(mean - half, 4) AND
           |       round(CAST(se AS DOUBLE) / ne, 4) <= round(mean + half, 4) AS within_ci
           |FROM (
           |  SELECT n, s, ss, ne, se,
           |         CAST(s AS DOUBLE) / n AS mean,
           |         CASE WHEN n > 1 THEN 1.96 * sqrt(greatest(
           |           (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
           |             / (n - 1), 0.0)) / sqrt(CAST(n AS DOUBLE))
           |              ELSE 0.0 END AS half
           |  FROM (SELECT CAST(count(*) AS BIGINT) AS n,
           |               CAST(sum(v) AS BIGINT) AS s,
           |               CAST(sum(v * v) AS BIGINT) AS ss
           |        FROM (SELECT $vexpr AS v FROM documents d JOIN swsamp USING (doc_id)))
           |  CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS ne,
           |                     CAST(sum($vexpr) AS BIGINT) AS se
           |              FROM documents d))""".stripMargin
      s"""WITH ${graft.functions.MixSql.hashSampleCtes("sw", "documents", "doc_id", Dedup.SweepSampleDocs)}
         |${row("chars", "d.n_chars")}
         |UNION ALL
         |${row("tok", raw"CAST(len(string_split_regex(trim(d.text), '\s+')) AS BIGINT)")}
         |ORDER BY metric""".stripMargin
    },
    // delete blast radius: the shared pair truth + BOTH closures (before
    // = the dedup_cluster fragment; after = the same closure over pairs
    // with both endpoints surviving, prefix 's'), the q_pack_sequences
    // manifest CTE, and integer metrics throughout
    "q_delete_impact" ->
      s"""WITH RECURSIVE ${Dedup.minhashPairsCte},
         |${Cluster.closureCtes},
         |del AS (SELECT doc_id FROM documents WHERE source = 'src7'),
         |spairs AS (
         |  SELECT doc_a, doc_b FROM pairs
         |  WHERE doc_a NOT IN (SELECT doc_id FROM del)
         |    AND doc_b NOT IN (SELECT doc_id FROM del)),
         |${Cluster.closureCtesFor("spairs", "s")},
         |${Packing.packCteBody("pk")}
         |SELECT * FROM (
         |  SELECT 'documents' AS artifact, 'chars_deleted' AS metric,
         |         CAST(coalesce(sum(d.n_chars), 0) AS BIGINT) AS value
         |  FROM documents d JOIN del USING (doc_id)
         |  UNION ALL
         |  SELECT 'documents', 'docs_deleted', CAST(count(*) AS BIGINT)
         |  FROM documents d JOIN del USING (doc_id)
         |  UNION ALL
         |  SELECT 'dup_graph', 'canonicals_reelected',
         |         CAST(count(DISTINCT l.cluster_id) AS BIGINT)
         |  FROM lbl l
         |  WHERE l.cluster_id IN (SELECT doc_id FROM del)
         |    AND l.doc_id NOT IN (SELECT doc_id FROM del)
         |  UNION ALL
         |  SELECT 'dup_graph', 'components_after',
         |         CAST(count(DISTINCT cluster_id) AS BIGINT) FROM slbl
         |  UNION ALL
         |  SELECT 'dup_graph', 'components_before',
         |         CAST(count(DISTINCT cluster_id) AS BIGINT) FROM lbl
         |  UNION ALL
         |  SELECT 'dup_graph', 'pairs_removed', CAST(count(*) AS BIGINT)
         |  FROM pairs
         |  WHERE doc_a IN (SELECT doc_id FROM del)
         |     OR doc_b IN (SELECT doc_id FROM del)
         |  UNION ALL
         |  SELECT 'pack_manifest', 'seqs_invalidated',
         |         CAST(count(DISTINCT sq) AS BIGINT)
         |  FROM (SELECT unnest(generate_series(pkp.seq_id,
         |                pkp.seq_id + pkp.n_seqs - 1)) AS sq
         |        FROM pkp JOIN del USING (doc_id) WHERE pkp.n_tok > 0)
         |  UNION ALL
         |  SELECT 'pack_manifest', 'tokens_dropped',
         |         CAST(coalesce(sum(pkp.n_tok), 0) AS BIGINT)
         |  FROM pkp JOIN del USING (doc_id))
         |ORDER BY artifact, metric""".stripMargin,
    // gate comparisons run on RAW double ratios in both engines (same
    // IEEE divisions), so no round-tie hazard; fragments mirror the
    // text_quality / text_repetition / text_langid oracles exactly
    "q_filter_funnel" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang, n_chars,
         |         string_split_regex(trim(lower(text)), '\\s+') AS w,
         |         CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE)
         |           / length(text) AS punct_ratio,
         |         CAST(list_sum(list_transform(string_split_regex(trim(text), '\\s+'),
         |               x -> length(x))) AS DOUBLE)
         |           / len(string_split_regex(trim(text), '\\s+')) AS mtl,
         |         CAST(1.0 AS DOUBLE)
         |           - CAST(len(list_distinct(string_split_regex(trim(text), '\\s+'))) AS DOUBLE)
         |           / len(string_split_regex(trim(text), '\\s+')) AS dup_frac
         |  FROM documents),
         |l AS (SELECT doc_id AS l_doc_id, (list_sort([
         |        $langStructs], 'DESC'))[1].lang AS lang_pred
         |      FROM t),
         |f AS (
         |  SELECT t.n_chars,
         |         CASE WHEN t.n_chars < 150 THEN '1_too_short'
         |              WHEN t.punct_ratio > 0.2 OR t.mtl < 2.0 OR t.mtl > 15.0 THEN '2_quality'
         |              WHEN l.lang_pred <> t.lang THEN '3_lang_mismatch'
         |              WHEN t.dup_frac > 0.6 THEN '4_repetitive'
         |              ELSE 'pass' END AS first_fail
         |  FROM t JOIN l ON t.doc_id = l.l_doc_id)
         |SELECT first_fail, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM f GROUP BY 1 ORDER BY first_fail""".stripMargin,
    "q_domain_cap" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |         row_number() OVER (PARTITION BY source
        |                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents) t
        |WHERE rn <= 18 ORDER BY doc_id""".stripMargin,
    "q_token_budget" ->
      """WITH q AS (
        |  SELECT doc_id, source, n_chars,
        |         CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |              x -> list_contains(['the','a','of','and','to','in'], x))) AS DOUBLE)
        |           / len(string_split_regex(trim(text), '\s+')) AS qs
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, qs,
        |         sum(n_chars) OVER (PARTITION BY source ORDER BY qs DESC, doc_id) AS cum
        |  FROM q)
        |SELECT doc_id, source, round(qs, 4) AS quality, CAST(cum AS BIGINT) AS cum_chars
        |FROM c WHERE cum <= 2000 ORDER BY doc_id""".stripMargin,
    "q_shuffle_shards" ->
      """WITH h AS (
        |  SELECT doc_id, n_chars, md5(CAST(doc_id AS VARCHAR)) AS hh,
        |         (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT) % 8 AS shard
        |  FROM documents)
        |SELECT shard, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       min_by(doc_id, hh) AS first_doc, max_by(doc_id, hh) AS last_doc
        |FROM h GROUP BY shard ORDER BY shard""".stripMargin,
    // same pairs CTE as dedup_minhash/dedup_cluster (shared truth), with
    // the md5 split CASE applied to each endpoint
    "q_split_leakage" ->
      s"""WITH ${Dedup.minhashPairsCte},
         |lab AS (
         |  SELECT jaccard,
         |         ${splitSqlFor("doc_a")} AS sa,
         |         ${splitSqlFor("doc_b")} AS sb
         |  FROM pairs)
         |SELECT least(sa, sb) AS split_lo, greatest(sa, sb) AS split_hi,
         |       count(*) AS n_pairs, max(jaccard) AS max_jaccard
         |FROM lab GROUP BY 1, 2 ORDER BY split_lo, split_hi""".stripMargin,
    "q_mix_expand" ->
      """WITH s AS (
        |  SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |  FROM documents GROUP BY 1),
        |t AS (
        |  SELECT *, CAST(sum_chars AS DOUBLE) /
        |            CAST((SELECT sum(sum_chars) FROM s) AS DOUBLE) AS share FROM s),
        |r AS (SELECT *, pow(share, 0.5) AS w_raw FROM t),
        |w AS (SELECT source,
        |             round(w_raw / (SELECT sum(w_raw) FROM r) / share, 6) AS weight
        |      FROM r),
        |d AS (
        |  SELECT doc_id, d0.source, weight,
        |         (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT)
        |           / 4294967296.0 AS u
        |  FROM documents d0 JOIN w ON d0.source = w.source),
        |n AS (
        |  SELECT doc_id, source,
        |         CAST(floor(weight) AS BIGINT) +
        |           CASE WHEN u < weight - floor(weight) THEN 1 ELSE 0 END AS n_copies
        |  FROM d)
        |SELECT doc_id, source, unnest(range(1, n_copies + 1)) AS copy_idx
        |FROM n WHERE n_copies > 0
        |ORDER BY doc_id, copy_idx""".stripMargin,
    // 15-hex-char md5 prefix (always positive BIGINT), xor + exact-sum
    // folds; the exact HUGEINT sum is emitted as its digit string
    // (HUGEINT->DOUBLE casts are not correctly rounded in DuckDB 1.0)
    "q_corpus_fingerprint" ->
      """WITH h AS (
        |  SELECT source,
        |         CAST(CAST('0x' || substr(md5(text), 1, 15) AS UBIGINT) AS BIGINT) AS h
        |  FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  bit_xor(h) AS fp_xor,
        |  CAST(sum(h) AS VARCHAR) AS fp_sum
        |FROM h GROUP BY source ORDER BY source""".stripMargin,
    // exact mirror of mixtureWaterfill: BIGINT capacities/prefix sums,
    // one double division for the level candidates, max over the valid
    // ones; unrounded doubles (identical IEEE ops) hash-match directly
    "q_mix_waterfill" ->
      """WITH s AS (SELECT lang, CAST(sum(n_chars) AS BIGINT) AS chars FROM documents GROUP BY lang),
        |t AS (
        |  SELECT lang, chars, chars * 2 AS capacity,
        |         CAST((SELECT sum(chars) FROM s) AS DOUBLE) * 1.5 AS budget,
        |         row_number() OVER (ORDER BY chars * 2, lang) AS k,
        |         (SELECT count(*) FROM s) AS n,
        |         CAST(sum(chars * 2) OVER (ORDER BY chars * 2, lang
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS p
        |  FROM s),
        |c AS (SELECT *,
        |        (budget - CAST(p - capacity AS DOUBLE)) / CAST(n - k + 1 AS DOUBLE) AS lam
        |      FROM t),
        |l AS (SELECT *,
        |        max(CASE WHEN lam <= CAST(capacity AS DOUBLE) THEN lam END) OVER () AS level
        |      FROM c)
        |SELECT lang, chars AS sum_chars, capacity,
        |  least(CAST(capacity AS DOUBLE), coalesce(level, CAST(capacity AS DOUBLE))) AS alloc_chars,
        |  least(CAST(capacity AS DOUBLE), coalesce(level, CAST(capacity AS DOUBLE)))
        |    / CAST(chars AS DOUBLE) AS epochs
        |FROM l ORDER BY lang""".stripMargin,
    "q_mix_weights" ->
      s"""WITH $mixTargetCtes
         |SELECT source, n_docs, sum_chars,
         |       round(share, 6) AS share,
         |       round(w_raw / (SELECT sum(w_raw) FROM r), 6) AS target_share,
         |       round(w_raw / (SELECT sum(w_raw) FROM r) / share, 6) AS weight
         |FROM r ORDER BY source""".stripMargin,
    // the same per-source aggregate crossed with the temperature grid;
    // per-alpha normalization mirrors the partitioned window
    "q_mix_sweep" -> {
      val grid = MixAlphaGrid.map(a => BigDecimal(a.toString).bigDecimal.toPlainString)
        .mkString("[", ", ", "]")
      s"""WITH s AS (
         |  SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |  FROM documents GROUP BY 1),
         |g AS (SELECT CAST(unnest($grid) AS DOUBLE) AS alpha),
         |t AS (
         |  SELECT g.alpha AS alpha, s.source AS source, s.n_docs AS n_docs,
         |         CAST(sum_chars AS DOUBLE) /
         |         CAST((SELECT sum(sum_chars) FROM s) AS DOUBLE) AS share
         |  FROM s CROSS JOIN g),
         |r AS (SELECT *, pow(share, alpha) AS w_raw FROM t),
         |n AS (SELECT alpha, sum(w_raw) AS tw FROM r GROUP BY 1)
         |SELECT r.alpha AS alpha, source, n_docs,
         |       round(share, 6) AS share,
         |       round(w_raw / tw, 6) AS target_share,
         |       round(w_raw / tw / share, 6) AS weight
         |FROM r JOIN n ON n.alpha = r.alpha
         |ORDER BY alpha, source""".stripMargin
    },
    "q_snapshot_diff" ->
      """WITH prev AS (
        |  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 13 <> 0),
        |cur AS (
        |  SELECT doc_id,
        |         md5(CASE WHEN doc_id % 11 = 2 THEN text || ' [rev2]' ELSE text END) AS h
        |  FROM documents WHERE doc_id % 17 <> 5),
        |d AS (
        |  SELECT coalesce(p.doc_id, c.doc_id) AS doc_id,
        |         CASE WHEN p.doc_id IS NULL THEN 'added'
        |              WHEN c.doc_id IS NULL THEN 'removed'
        |              WHEN p.h <> c.h THEN 'changed'
        |              ELSE 'unchanged' END AS status
        |  FROM prev p FULL OUTER JOIN cur c ON p.doc_id = c.doc_id)
        |SELECT status, count(*) AS n_docs,
        |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM d GROUP BY status ORDER BY status""".stripMargin,
    // integer TVD numerators over the values×splits grid; the two final
    // divisions are the only float ops (see splitReportDf)
    "q_split_report" ->
      s"""WITH tagged AS (
         |  SELECT $splitSql AS split, lang, source FROM documents),
         |lng AS (
         |  SELECT split, 'lang' AS dim, lang AS value FROM tagged
         |  UNION ALL
         |  SELECT split, 'source', source FROM tagged),
         |cnt AS (SELECT split, dim, value, count(*) AS n_sv FROM lng GROUP BY 1, 2, 3),
         |vals AS (SELECT dim, value, CAST(sum(n_sv) AS BIGINT) AS n_v FROM cnt GROUP BY 1, 2),
         |sp AS (SELECT DISTINCT split FROM cnt),
         |ns AS (SELECT split, CAST(sum(n_sv) AS BIGINT) AS n_s FROM cnt WHERE dim = 'lang' GROUP BY 1),
         |nt AS (SELECT CAST(sum(n_s) AS BIGINT) AS n FROM ns),
         |grid AS (
         |  SELECT sp.split AS split, v.dim AS dim, v.value AS value,
         |         COALESCE(c.n_sv, 0) AS n_sv, v.n_v AS n_v, ns.n_s AS n_s, nt.n AS n
         |  FROM vals v CROSS JOIN sp
         |  LEFT JOIN cnt c ON c.split = sp.split AND c.dim = v.dim
         |    AND c.value IS NOT DISTINCT FROM v.value
         |  JOIN ns ON ns.split = sp.split
         |  CROSS JOIN nt),
         |num AS (SELECT split, dim, value, n_s, n,
         |               abs(CAST(n_sv AS HUGEINT) * n - CAST(n_v AS HUGEINT) * n_s) AS num
         |        FROM grid),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY split, dim
         |                 ORDER BY num DESC, value ASC NULLS FIRST) AS rk FROM num)
         |SELECT split, dim,
         |       CAST(min(n_s) AS BIGINT) AS n_docs,
         |       round(CAST(sum(num) AS DOUBLE) / (2.0 * min(n_s) * min(n)), 6) AS tvd,
         |       max(CASE WHEN rk = 1 THEN value END) AS worst_value,
         |       round(CAST(max(CASE WHEN rk = 1 THEN num END) AS DOUBLE) /
         |             (CAST(min(n_s) AS DOUBLE) * min(n)), 6) AS worst_gap
         |FROM rk GROUP BY split, dim
         |ORDER BY split, dim""".stripMargin,
    "q_split_assign" ->
      s"""SELECT $splitSql AS split, count(*) AS n_docs
         |FROM documents GROUP BY 1 ORDER BY split""".stripMargin,
    "q_sample_hash" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '20'
        |ORDER BY doc_id""".stripMargin,
    "q_weighted_sample" ->
      """SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, n_chars,
        |         pow((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT)
        |             / 4294967296.0, 1.0 / n_chars) AS k
        |  FROM documents
        |  ORDER BY k DESC, doc_id LIMIT 100) t
        |ORDER BY doc_id""".stripMargin,
    "q_stratified_sample" ->
      """WITH r AS (
        |  SELECT doc_id, lang,
        |         row_number() OVER (PARTITION BY lang
        |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
        |         count(*) OVER (PARTITION BY lang) AS n_stratum
        |  FROM documents)
        |SELECT doc_id, lang FROM r
        |WHERE rn <= ceil(0.2 * n_stratum) ORDER BY doc_id""".stripMargin,
    // the funnel recomposed from the SAME shared fragments the stage
    // oracles use: Dedup.minhashPairsCte + Cluster.closureCtes (near-dup
    // clusters), Retrieval.gram5Cte (note: minhashPairsCte's `t` IS the
    // un-lowered trim-split both fragments tokenize from), gateColsSql,
    // and langPredCteBody — every fragment has exactly one definition
    "q_corpus_build" ->
      s"""WITH RECURSIVE ${Dedup.minhashPairsCte},
         |${Cluster.closureCtes},
         |${Retrieval.gram5Cte("t")},
         |bench AS (SELECT DISTINCT g FROM g WHERE doc_id % 100 = 0),
         |contam AS (SELECT DISTINCT c.doc_id FROM g c JOIN bench USING (g)
         |           WHERE c.doc_id % 100 <> 0),
         |tl AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
         |       FROM documents WHERE doc_id % 100 <> 0),
         |lp AS (${langPredCteBody("tl")}),
         |tq AS (SELECT d.doc_id, d.n_chars, d.lang,
         |         row_number() OVER (PARTITION BY md5(d.text) ORDER BY d.doc_id) AS rn,
         |         ${gateColsSql("d.")}
         |       FROM documents d WHERE d.doc_id % 100 <> 0),
         |f AS (SELECT tq.doc_id, tq.n_chars,
         |        (tq.rn = 1) AS e_ok,
         |        tq.doc_id NOT IN (SELECT doc_id FROM lbl WHERE doc_id <> cluster_id) AS nd_ok,
         |        tq.doc_id NOT IN (SELECT doc_id FROM contam) AS ct_ok,
         |        (tq.punct_ratio <= 0.2 AND tq.mean_token_len BETWEEN 2.0 AND 15.0
         |          AND lp.lang_pred = tq.lang) AS q_ok
         |      FROM tq JOIN lp ON tq.doc_id = lp.l_doc_id)
         |SELECT * FROM (
         |  SELECT '0_raw' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS n_chars FROM f
         |  UNION ALL
         |  SELECT '1_exact_dedup', CAST(count(*) FILTER (WHERE e_ok) AS BIGINT),
         |         CAST(coalesce(sum(n_chars) FILTER (WHERE e_ok), 0) AS BIGINT) FROM f
         |  UNION ALL
         |  SELECT '2_near_dedup', CAST(count(*) FILTER (WHERE e_ok AND nd_ok) AS BIGINT),
         |         CAST(coalesce(sum(n_chars) FILTER (WHERE e_ok AND nd_ok), 0) AS BIGINT) FROM f
         |  UNION ALL
         |  SELECT '3_decontaminated',
         |         CAST(count(*) FILTER (WHERE e_ok AND nd_ok AND ct_ok) AS BIGINT),
         |         CAST(coalesce(sum(n_chars) FILTER (WHERE e_ok AND nd_ok AND ct_ok), 0) AS BIGINT) FROM f
         |  UNION ALL
         |  SELECT '4_quality',
         |         CAST(count(*) FILTER (WHERE e_ok AND nd_ok AND ct_ok AND q_ok) AS BIGINT),
         |         CAST(coalesce(sum(n_chars) FILTER (WHERE e_ok AND nd_ok AND ct_ok AND q_ok), 0) AS BIGINT) FROM f
         |) ORDER BY stage""".stripMargin,
    "q_curate" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang, text,
         |         string_split_regex(trim(lower(text)), '\\s+') AS w,
         |         ${gateColsSql("")},
         |         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
         |  FROM documents),
         |l AS (${langPredCteBody("t")}),
         |kept AS (
         |  SELECT t.doc_id AS doc_id, t.lang AS lang
         |  FROM t JOIN l ON t.doc_id = l.l_doc_id
         |  WHERE t.rn = 1 AND t.punct_ratio <= 0.2
         |    AND t.mean_token_len BETWEEN 2.0 AND 15.0 AND l.lang_pred = t.lang)
         |SELECT doc_id, lang, $splitSql AS split
         |FROM kept ORDER BY doc_id""".stripMargin,
  )
}

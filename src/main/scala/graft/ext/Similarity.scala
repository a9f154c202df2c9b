package graft.ext

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (SURVEY §2.11):
  * brute-force cosine top-k as the exact baseline, and an LSH-bucketed
  * variant as the 100 TB path (candidates from sign-random-projection
  * buckets instead of all-pairs).
  */
object Similarity {

  /** Exact cosine similarity between two float-array columns: sequential
    * double accumulation via the codegen'd [[graft.functions.DotProduct]]
    * expression — bit-identical to DuckDB's list_cosine_similarity over
    * DOUBLE[], which keeps the oracle hash-exact, and allocation-free in
    * pair-join hot paths.
    */
  def cosine(a: Column, b: Column): Column = graft.functions.VectorFns.cosine(a, b)

  /** Brute-force top-k for a single query vector (vec_id 0): broadcast the
    * query row, one pass over the corpus, TakeOrderedAndProject for the
    * top-k — the exact-baseline shape (one scan, no shuffle of the corpus).
    */
  def annTopk(spark: SparkSession, dir: String, queryId: Long = 0L, k: Int = 10): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") === queryId)
      .select(col("embedding").as("query_emb"))
    e.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), round(cosine(col("embedding"), col("query_emb")), 4).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** PRE-FILTERED vector search — the metadata-constrained ANN shape a
    * retrieval stack actually serves ("nearest neighbors among docs
    * matching this predicate"). Pre-filtering beats post-filtering
    * structurally: filtering the candidate set FIRST guarantees k true
    * results under any predicate selectivity, where post-filtering a
    * top-k' overfetch can come back short (or rescan) when the predicate
    * is selective. The metadata predicate lives on the documents table,
    * so the plan is: pushed-down predicate scan of the metadata side →
    * semi join onto the embedding corpus → exact cosine →
    * TakeOrderedAndProject. The allowed-id set SCALES WITH THE CORPUS
    * (a filtered projection of documents), so the semi join carries no
    * broadcast hint: AQE broadcasts it when the predicate is selective
    * and shuffles on vec_id when it is not — either way the embedding
    * corpus is scanned once. Against a bucketed/IVF layout the same
    * semi join composes with partition pruning — the filter and the
    * probe both cut the scan.
    */
  def annTopkFiltered(
      spark: SparkSession, dir: String, lang: String = "en",
      queryId: Long = 0L, k: Int = 10): DataFrame = {
    val allowed = Tables.documents(spark, dir)
      .filter(col("lang") === lang)
      .select(col("doc_id").as("vec_id"))
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") === queryId)
      .select(col("embedding").as("query_emb"))
    e.filter(col("vec_id") =!= queryId)
      .join(allowed, Seq("vec_id"), "left_semi")
      .crossJoin(broadcast(q))
      .select(col("vec_id"), round(cosine(col("embedding"), col("query_emb")), 4).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** Truncated-dimension prefilter search (the Matryoshka/dimension-
    * reduction serving pattern): rank the whole corpus by the dot
    * product of the FIRST `prefixDims` dimensions only —
    * prefixDims/dim of the arithmetic, and under a layout that stores
    * the prefix column separately, that fraction of the scan bytes —
    * keep the top `candidates`, then re-rank just those with the exact
    * full-dimension cosine. Both stages lower to TakeOrderedAndProject
    * (one corpus scan + a candidate-bounded rescore); the candidate
    * margin buys recall, and the two-stage ranking is fully
    * deterministic (rounded scores, vec_id tie-breaks), so the result is
    * oracle-checkable end to end. NOTE the synthetic embeddings are
    * random (no MRL front-loading), so the default prefix is half the
    * dims; production MRL embeddings concentrate signal up front and
    * tolerate far shorter prefixes.
    */
  def annTopkTruncated(
      spark: SparkSession, dir: String, queryId: Long = 0L,
      k: Int = 10, prefixDims: Int = 32, candidates: Int = 100): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") === queryId)
      .select(col("embedding").as("query_emb"),
        slice(col("embedding"), 1, prefixDims).as("query_prefix"))
    val cand = e.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("embedding"), col("query_emb"),
        round(graft.functions.VectorFns.dotProduct(
          slice(col("embedding"), 1, prefixDims), col("query_prefix")), 4)
          .as("prefix_score"))
      .orderBy(col("prefix_score").desc, col("vec_id"))
      .limit(candidates)
    cand
      .select(col("vec_id"),
        round(cosine(col("embedding"), col("query_emb")), 4).as("cosine"),
        col("prefix_score"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  def qAnnTopkTruncated(spark: SparkSession, dir: String): DataFrame =
    annTopkTruncated(spark, dir)

  /** Brute-force top-k over the int8-QUANTIZED corpus — the
    * storage-compressed path ([[graft.functions.QuantizeInt8]]: 4x
    * smaller on disk, per-vector scale). Same plan shape as [[annTopk]];
    * the scores are computed on dequantized vectors so the quantization
    * error is observable (ExtSpec bounds it; a production serving path
    * re-ranks the final k with the float originals).
    */
  def annTopkInt8(spark: SparkSession, dir: String, queryId: Long = 0L, k: Int = 10): DataFrame = {
    import graft.functions.{DequantizeInt8, QuantizeInt8}
    val e = Tables.embeddings(spark, dir)
      .withColumn("qz", QuantizeInt8(col("embedding")))
      .select(col("vec_id"),
        DequantizeInt8(col("qz.scale"), col("qz.codes")).as("demb"))
    val q = e.filter(col("vec_id") === queryId)
      .select(col("demb").as("query_emb"))
    e.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), round(cosine(col("demb"), col("query_emb")), 4).as("cosine_q"))
      .orderBy(col("cosine_q").desc, col("vec_id"))
      .limit(k)
  }

  /** Batched top-k: k nearest for EACH of the first `nQueries` vectors —
    * the production shape (broadcast the query block, per-query window
    * rank). One corpus scan regardless of query count.
    */
  def annTopkBatch(spark: SparkSession, dir: String, nQueries: Int = 5, k: Int = 5): DataFrame = {
    import graft.functions.VectorFns
    // Precompute each side's norm once: the pair computation is then a
    // single fused dot product instead of three per candidate.
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), VectorFns.l2norm(col("embedding")).as("nrm"))
    val queries = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_emb"), col("nrm").as("qnrm"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    e.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(VectorFns.dotProduct(col("embedding"), col("query_emb")) / (col("nrm") * col("qnrm")), 4)
          .as("cosine"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .orderBy("query_id", "rn")
  }

  // --- LSH-bucketed ANN (the scale path) -----------------------------------

  val LshBits = 12

  /** Sign-random-projection signature: bit i = sign(v · h_i) with
    * deterministic hash-derived hyperplanes — no stored model. Native
    * compiled expression ([[graft.functions.SrpSignature]]); the
    * nested-lambda formulation runs interpreted and re-evaluates per bit.
    * At 100 TB the corpus is written bucketed by signature; a query
    * probes its own bucket (plus multi-probe neighbors) instead of
    * scanning the corpus.
    */
  def lshSignature(emb: Column, bits: Int = LshBits): Column =
    graft.functions.VectorFns.srpSignature(emb, bits)

  /** Bucketed near-neighbor candidates: pairs sharing an LSH bucket,
    * verified with exact cosine. Returns bucket stats + verified top pairs
    * (rows-only check; recall vs brute force is asserted in ScalaTest).
    */
  def annLshBuckets(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), lshSignature(col("embedding")).as("bucket"))
    e.groupBy(col("bucket"))
      .agg(count(lit(1)).as("bucket_size"), min(col("vec_id")).as("min_vec_id"))
      .orderBy(col("bucket"))
  }

  /** The probe set for multi-probe LSH: each query row exploded to its
    * own bucket plus the [[LshBits]] buckets at Hamming distance 1
    * (13 probes at 12 bits), with the query norm precomputed.
    */
  def lshProbes(queryVecs: DataFrame, bits: Int = LshBits): DataFrame = {
    import graft.functions.VectorFns
    queryVecs.select(
      col("query_id"), col("query_emb"),
      VectorFns.l2norm(col("query_emb")).as("qnrm"),
      explode(concat(
        array(lshSignature(col("query_emb"), bits)),
        transform(sequence(lit(0), lit(bits - 1)),
          i => lshSignature(col("query_emb"), bits)
            .bitwiseXOR(call_function("shiftleft", lit(1L), i.cast("int")).cast("long")))))
        .as("bucket"))
  }

  /** Multi-probe LSH search: each query probes its own bucket plus all
    * buckets at Hamming distance 1 (13 probes at 12 bits), candidates are
    * re-ranked by exact cosine. The corpus is scanned once and joined on
    * the bucket key — at 100 TB the corpus is WRITTEN partitioned by
    * bucket ([[writeBucketedCorpus]] / [[annLshSearchPartitioned]]), so a
    * query touches 13 partitions instead of the corpus.
    */
  def annLshSearch(corpus: DataFrame, queryVecs: DataFrame, k: Int): DataFrame = {
    import graft.functions.VectorFns
    val bucketed = corpus.select(
      col("vec_id"), col("embedding"),
      VectorFns.l2norm(col("embedding")).as("nrm"),
      lshSignature(col("embedding")).as("bucket"))
    scoreBucketJoin(bucketed, broadcast(lshProbes(queryVecs)), k)
  }

  /** Shared candidate-score-rank tail of every multi-probe pipeline:
    * bucket equi-join of the (vec_id, embedding, nrm, bucket) corpus
    * against (query_id, query_emb, qnrm, bucket) probes, self filter,
    * exact rounded cosine from the precomputed norms, per-query rank,
    * top-k. No dedup stage: probe buckets are distinct and each corpus
    * vector has exactly one bucket, so a (query, vec) pair appears at
    * most once. The probe-side join strategy is the CALLER's choice —
    * serving paths broadcast the bounded probe set, graph construction
    * passes the corpus-sized probe side unhinted so AQE decides.
    */
  /** The candidate rows every bucket-join pipeline scores: probes ⋈
    * corpus on the bucket key, minus self-pairs. Factored so the scale
    * rehearsal's candidate-volume probe counts EXACTLY the rows
    * [[scoreBucketJoin]] scores — one definition, no drift.
    */
  private def bucketCandidates(bucketed: DataFrame, probes: DataFrame): DataFrame =
    bucketed.join(probes, Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))

  private def scoreBucketJoin(
      bucketed: DataFrame, probes: DataFrame, k: Int,
      neighborCol: String = "vec_id"): DataFrame = {
    import graft.functions.VectorFns
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col(neighborCol))
    bucketCandidates(bucketed, probes)
      .select(col("query_id"), col("vec_id").as(neighborCol),
        round(VectorFns.dotProduct(col("embedding"), col("query_emb")) / (col("nrm") * col("qnrm")), 4)
          .as("cosine"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .orderBy("query_id", "rn")
  }

  /** The 100 TB serving layout: corpus written hive-partitioned by LSH
    * bucket, with signature and norm computed ONCE at ingest — a
    * multi-probe lookup then prunes the scan to its probe directories
    * instead of reading the corpus.
    */
  def writeBucketedCorpus(emb: DataFrame, path: String): Unit = {
    import graft.functions.VectorFns
    emb.select(col("vec_id"), col("embedding"),
        VectorFns.l2norm(col("embedding")).as("nrm"),
        lshSignature(col("embedding")).as("bucket"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("bucket").parquet(path)
  }

  /** Multi-probe top-k against the [[writeBucketedCorpus]] layout. The
    * probe keys (13 longs per query — query metadata, not corpus data)
    * are collected driver-side and become a STATIC partition filter, so
    * the scan's PartitionFilters prune the read to <=13 directories per
    * query at file-listing time (asserted in ExtSpec). This is the
    * point-lookup serving shape; the batch shape (probes as a table) is
    * [[annLshSearch]].
    */
  def annLshSearchPartitioned(
      spark: SparkSession, path: String, queryVecs: DataFrame, k: Int): DataFrame = {
    val probes = lshProbes(queryVecs)
    val probeKeys = probes.select("bucket").distinct().collect().map(_.getLong(0)).toSeq
    val corpus = spark.read.parquet(path).filter(col("bucket").isin(probeKeys: _*))
    scoreBucketJoin(corpus, broadcast(probes), k)
  }

  /** k-NN GRAPH construction over the whole corpus — the batch primitive
    * behind SemDeDup-style semantic clustering and graph-based diversity
    * sampling: every vector gets its top-k nearest bucket-mates. Each
    * vector probes its own SRP bucket plus the [[LshBits]] Hamming-1
    * neighbors (the same multi-probe discipline as [[annLshSearch]]), so
    * every ordered pair within signature Hamming distance 1 is generated
    * EXACTLY once by an equi-join on the bucket key — no all-pairs stage
    * anywhere. Unlike the serving path the probe side IS the corpus
    * (13 rows per vector), so there is no broadcast hint: both sides
    * shuffle on the bucket key and AQE handles any hot bucket. Expected
    * candidate volume is N^2*(bits+1)/2^bits, so the DEFAULT bits is
    * [[autoBits]] of the corpus size — 2^bits tracks N/8, holding
    * per-bucket occupancy (and therefore per-bucket quadratic work)
    * constant at any scale; a fixed bits width would go quadratic the
    * moment N outgrows it (measured exponent 2.6 at x100 with 12 bits
    * vs 1.0 auto-scaled — BENCH_SCALE.md). The floor at [[LshBits]]
    * keeps small-corpus results bit-identical to the historical
    * fixed-12-bit query, the same staircase discipline as
    * [[bitextMine]]'s [[bitextAutoBits]]. The sizing count is read from
    * the parquet footers on the driver ([[graft.Tables.metadataRowCount]])
    * — no Spark job at all before the graph build.
    * Vectors whose probe buckets hold no neighbor simply have no rows
    * (an ANN graph, not an exact one); recall on planted near-dup pairs
    * is asserted in ExtSpec.
    */
  /** The auto-scaled bits knob from the scaladoc above, shared by the
    * scale rehearsal's timing and candidate-probe entries: bits =
    * log2(N / target occupancy 8), floored at [[LshBits]] so small
    * corpora match the fixed-bits query exactly.
    */
  def autoBits(n: Long): Int = bitsFor(n, occupancy = 8L, floor = LshBits)

  /** Shared bits-for-pool-size knob: the smallest b with 2^b·occupancy
    * ≥ n (i.e. ceil(log2(n/occupancy)) computed in EXACT integer
    * arithmetic — a float log could flip the ceil at exact powers of
    * two and, worse, disagree with the oracle's libm at the same
    * boundary), floored so small corpora match their fixed-bits driver
    * query exactly. One definition behind [[autoBits]] and
    * [[bitextAutoBits]]; the SQL twin is the `abits` CTE of
    * [[srpSigCteAuto]].
    */
  private[ext] def bitsFor(n: Long, occupancy: Long, floor: Int): Int = {
    var b = 0
    while ((1L << b) * occupancy < n) b += 1
    math.max(floor, b)
  }

  /** Corpus and probe sides of the knn-graph bucket join. */
  private def knnSides(e: DataFrame, bits: Int): (DataFrame, DataFrame) = {
    import graft.functions.VectorFns
    val bucketed = e.select(
      col("vec_id"), col("embedding"),
      VectorFns.l2norm(col("embedding")).as("nrm"),
      lshSignature(col("embedding"), bits).as("bucket"))
    val probes = lshProbes(
      e.select(col("vec_id").as("query_id"), col("embedding").as("query_emb")), bits)
    (bucketed, probes)
  }

  /** `bits = 0` (the default) means [[autoBits]] of the corpus size —
    * the production knob; pass an explicit width only to pin a
    * historical curve (the scale rehearsal's fixed-bits comparison).
    */
  def annKnnGraph(spark: SparkSession, dir: String, k: Int = 3,
      bits: Int = 0): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    // footer-metadata count: sizing the staircase must not cost a
    // full-scan job before the real query (round-11 verdict item)
    val b = if (bits > 0) bits else autoBits(Tables.metadataRowCount(e))
    val (bucketed, probes) = knnSides(e, b)
    scoreBucketJoin(bucketed, probes, k, neighborCol = "neighbor_id")
  }

  /** The exact candidate rows [[annKnnGraph]] scores at the given bits
    * (scale-rehearsal probe; same [[knnSides]] + [[bucketCandidates]]
    * definitions the query uses).
    */
  private[graft] def knnCandidateRows(spark: SparkSession, dir: String,
      bits: Int): DataFrame = {
    val (bucketed, probes) = knnSides(Tables.embeddings(spark, dir), bits)
    bucketCandidates(bucketed, probes)
  }

  /** Driver-contract entry: multi-probe LSH top-5 for the first 5 vectors
    * (rows-only; recall properties are asserted in ExtSpec on planted
    * near-neighbors).
    */
  def annLshSearchQuery(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_emb"))
    annLshSearch(e, queries, 5)
  }

  /** Index-quality evaluation AS A QUERY — recall@k of the multi-probe
    * LSH search against the exact batch top-k for the same query block:
    * the measurement a pipeline runs after (re)building an ANN index to
    * decide whether its bits/probe knobs are adequate before serving
    * traffic ("measure, don't guess" applied to the index itself).
    * Both sides are deterministic (rounded cosines, id tie-breaks), so
    * unlike typical recall harnesses this one is DuckDB-oracle-checkable
    * — the oracle recomputes both searches and the intersection. All
    * frames after the two searches are query-block-sized; the searches
    * themselves are the already-measured ann_topk_batch and
    * ann_lsh_search plans.
    */
  def annRecallReport(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val exact = annTopkBatch(spark, dir, nQueries = 5, k = k)
      .select(col("query_id"), col("vec_id"), col("cosine"))
    val approx = annLshSearchQuery(spark, dir)
      .select(col("query_id"), col("vec_id"), col("cosine"))
    val hits = exact.select("query_id", "vec_id")
      .join(approx.select("query_id", "vec_id"), Seq("query_id", "vec_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
    // set-recall alone reads 0 whenever the buckets miss the exact set
    // entirely (on a near-random corpus the true neighbors are
    // uninformative); the best-cosine pair shows the actual quality
    // gap the index serves — the number a knob decision needs
    exact.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"), max(col("cosine")).as("exact_best"))
      .join(approx.groupBy(col("query_id"))
        .agg(max(col("cosine")).as("approx_best")), Seq("query_id"), "left")
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double") / col("n_exact"), 4)
          .as("recall"),
        col("exact_best"), col("approx_best"))
      .orderBy("query_id")
  }

  /** Margin-based bitext mining — the parallel-pair extraction step of a
    * multilingual training-data pipeline (Artetxe & Schwenk 2019, the
    * CCMatrix/LASER method): two embedding pools are aligned by the RATIO
    * MARGIN cos(x,y) / mean(top-k neighbor cosines of x and y), which
    * normalizes away hubness (a vector that is close to EVERYTHING scores
    * near 1 against its own neighborhood average and stops winning every
    * pair), and a pair is mined only when it is mutual-best by margin in
    * both directions — the "intersection" criterion, threshold-free and
    * deterministic.
    *
    * Candidates are SRP-LSH multi-probe bucket mates (the [[annLshSearch]]
    * discipline: each source probes its own bucket plus all Hamming-1
    * neighbors, so every cross-pool pair within signature Hamming distance
    * 1 is generated exactly once by an equi-join on the bucket key — never
    * all-pairs), and the k-NN means the margin needs are computed on those
    * same candidate rows with window functions: per-side top-k by rounded
    * cosine, sides with fewer than k candidates dropped (their mean would
    * average a different support than the definition). The whole pipeline
    * is 4 hash exchanges of the candidate set (src-keyed windows, tgt-keyed
    * windows, then one margin-rank pass per direction) — no aggregate joins
    * and no driver-side state; `bits` follows [[autoBits]] at larger pools
    * to hold per-bucket candidate work constant.
    *
    * All ranking uses ROUNDED (4 dp) cosines/margins with id tie-breaks, so
    * ordering is reproducible across engines and partitionings; the DuckDB
    * oracle mirrors the signature table ([[srpSigCte]]), the Hamming-1
    * candidate set, and every window exactly.
    */
  /** The scored cross-pool candidate rows [[bitextMine]] ranks: every
    * (even vec_id, odd vec_id) pair within signature Hamming distance 1
    * at the given bits, with rounded exact cosine. Factored so the scale
    * rehearsal's candidate probe counts exactly what the miner scores.
    */
  private[graft] def bitextCandidateRows(emb: DataFrame, bits: Int): DataFrame = {
    import graft.functions.VectorFns
    val src = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_emb"))
    val tgt = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
      .select(col("vec_id"), col("embedding"),
        VectorFns.l2norm(col("embedding")).as("nrm"),
        lshSignature(col("embedding"), bits).as("bucket"))
    // probe side is pool-sized (13 rows per source vector at 12 bits,
    // 7 at 6): no broadcast hint — both sides shuffle on the bucket key
    tgt.join(lshProbes(src, bits), Seq("bucket"))
      .select(col("query_id").as("src_id"), col("vec_id").as("tgt_id"),
        round(VectorFns.dotProduct(col("embedding"), col("query_emb"))
          / (col("nrm") * col("qnrm")), 4).as("cosine"))
  }

  /** Bits knob for mining pools of size n: per-source candidate work is
    * (pool/2^bits)·(bits+1), so 2^bits tracks n/32 to hold the candidate
    * neighborhood tens-wide at any corpus size (equals the 6-bit driver
    * query at the sf0.1 pool sizes).
    */
  def bitextAutoBits(n: Long): Int = bitsFor(n, occupancy = 32L, floor = 6)

  /** `bits = 0` (the default) means [[bitextAutoBits]] of the pool size
    * — the same auto-staircase default as [[annKnnGraph]]; the floor of
    * 6 keeps both driver SFs (pools ≤ 2000 → bits 6) bit-identical to
    * the historical fixed-6-bit query and its oracle.
    */
  def bitextMine(emb: DataFrame, k: Int = 4, bits: Int = 0): DataFrame = {
    val b = if (bits > 0) bits else
      bitextAutoBits(graft.Tables.metadataRowCount(emb))
    val cand = bitextCandidateRows(emb, b)
    val wS = Window.partitionBy(col("src_id"))
    val wSo = wS.orderBy(col("cosine").desc, col("tgt_id"))
    val wT = Window.partitionBy(col("tgt_id"))
    val wTo = wT.orderBy(col("cosine").desc, col("src_id"))
    // the top-k cosines sum as DECIMAL(6,4) — the rounded values are
    // exact decimals, so the sum is association-free and both engines
    // derive the identical knn mean (the pageRank quantization
    // discipline; a double sum would order-depend by ~1 ulp and could
    // flip round(margin, 4) at a rounding tie)
    val d64 = org.apache.spark.sql.types.DataTypes.createDecimalType(6, 4)
    cand
      // src-keyed block, then tgt-keyed block: each block is one exchange
      .withColumn("rn_s", row_number().over(wSo))
      .withColumn("n_s", count(lit(1)).over(wS))
      .withColumn("knn_src",
        sum(when(col("rn_s") <= k, col("cosine").cast(d64))).over(wS).cast("double") / k)
      .withColumn("rn_t", row_number().over(wTo))
      .withColumn("n_t", count(lit(1)).over(wT))
      .withColumn("knn_tgt",
        sum(when(col("rn_t") <= k, col("cosine").cast(d64))).over(wT).cast("double") / k)
      .filter(col("n_s") >= k && col("n_t") >= k
        && (col("knn_src") + col("knn_tgt")) > 0)
      .withColumn("margin",
        round(col("cosine") * 2 / (col("knn_src") + col("knn_tgt")), 4))
      .withColumn("rn_f", row_number().over(
        Window.partitionBy(col("src_id")).orderBy(col("margin").desc, col("tgt_id"))))
      .withColumn("rn_b", row_number().over(
        Window.partitionBy(col("tgt_id")).orderBy(col("margin").desc, col("src_id"))))
      .filter(col("rn_f") === 1 && col("rn_b") === 1)
      .select(col("src_id"), col("tgt_id"), col("cosine"), col("margin"))
      .orderBy("src_id")
  }

  /** Driver entry: even vec_ids are the source pool, odd the target
    * (simulating two language sides of one aligned embedding space);
    * 6-bit signatures keep per-source candidate neighborhoods tens-wide
    * at the test pool sizes — production sets bits by pool size
    * ([[autoBits]]), which this corpus is far below.
    */
  def qBitextMine(spark: SparkSession, dir: String): DataFrame =
    bitextMine(Tables.embeddings(spark, dir))

  /** Streaming index maintenance — the freshness half of the serving
    * story: newly-arrived embeddings append into the
    * [[writeBucketedCorpus]] layout as they land, so
    * [[annLshSearchPartitioned]] immediately sees them without an index
    * rebuild. Each micro-batch computes signature + norm with the SAME
    * expressions the bulk write uses (one layout discipline, no drift)
    * and appends partition-scoped files — only the bucket directories the
    * batch actually touches get new files; the rest of the index is
    * untouched bytes. Appends accrete small files per bucket at high
    * arrival rates; [[graft.ops.Scale.compact]] over hot bucket dirs on a
    * size trigger is the same hygiene the incremental minhash index
    * already wires.
    */
  def runIndexAppendStream(spark: SparkSession, inputGlob: String, indexPath: String): Unit = {
    import graft.functions.VectorFns
    import graft.streaming.{Streaming, Streams}
    Streams.drain(
      Streams.fileStream(spark, Streaming.embRawSchema, inputGlob, oneFilePerTrigger = false),
      Streams.ForeachBatch(None, Streams.nonEmpty { (batch, _) =>
        batch.select(col("vec_id"), col("embedding"),
            VectorFns.l2norm(col("embedding")).as("nrm"),
            lshSignature(col("embedding")).as("bucket"))
          .write.mode(org.apache.spark.sql.SaveMode.Append)
          .partitionBy("bucket").parquet(indexPath)
      }))
  }

  /** Per-dimension corpus statistics — the feature-scaling / whitening
    * pre-pass an embedding pipeline runs before quantization or indexing
    * (centering for PQ, scale checks for int8): mean, std, min, max for
    * every dimension in ONE pass. posexplode is a map-side fan-out (64
    * rows per vector) absorbed by the partial aggregate, so only 64
    * partial rows per task cross the exchange; sums are algebraic, so
    * the merge is exact at any cluster size. Values are quantized to
    * DECIMAL(12,10) (exact for unit-scale embeddings) so both engines
    * feed bit-identical sums into the same double mean/variance
    * arithmetic — no accumulation-order drift.
    */
  def embedStats(emb: DataFrame): DataFrame = {
    val vdec = col("v").cast("double").cast("decimal(12,10)")
    emb
      .select(posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("dim"))
      .agg(
        count(lit(1)).as("n"),
        sum(vdec).cast("double").as("s1"),
        sum(vdec * vdec).cast("double").as("s2"),
        min(col("v").cast("double")).as("vmin"),
        max(col("v").cast("double")).as("vmax"))
      .select(
        col("dim"), col("n"),
        round(col("s1") / col("n"), 6).as("mean"),
        round(sqrt((col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1)), 6).as("std"),
        round(col("vmin"), 6).as("vmin"),
        round(col("vmax"), 6).as("vmax"))
      .orderBy("dim")
  }

  def qEmbedStats(spark: SparkSession, dir: String): DataFrame =
    embedStats(Tables.embeddings(spark, dir))

  /** Hard-negative mining (the DPR/contrastive-training data op): for
    * each query vector, the k most SIMILAR vectors with a DIFFERENT
    * label — the negatives that actually teach a retriever, sitting
    * just across the decision boundary (random negatives are trivially
    * separable). The label plays the relevance proxy; the per-query
    * label inequality makes this the anti-filtered twin of
    * [[annTopkFiltered]]'s pre-filter shape: queries broadcast (they
    * are training batch metadata), the corpus is scanned once, the
    * inequality prunes before ranking, and the per-query window ranks
    * survivors. The exact scan is the baseline; the LSH/IVF serving
    * layouts are the corpus-scale path for the same ranking.
    */
  def qHardNegatives(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import graft.functions.VectorFns
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_emb"),
        col("label").as("qlabel"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    e.crossJoin(broadcast(q))
      .filter(col("label") =!= col("qlabel"))
      .select(col("query_id"), col("vec_id"), col("label"),
        round(cosine(col("embedding"), col("query_emb")), 4).as("cosine"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .orderBy("query_id", "rn")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_embed_stats" -> (qEmbedStats _),
    "ann_topk" -> ((s: SparkSession, d: String) => annTopk(s, d)),
    "ann_topk_truncated" -> (qAnnTopkTruncated _),
    "ann_topk_filtered" -> ((s: SparkSession, d: String) => annTopkFiltered(s, d)),
    "ann_topk_int8" -> ((s: SparkSession, d: String) => annTopkInt8(s, d)),
    "ann_topk_batch" -> ((s: SparkSession, d: String) => annTopkBatch(s, d)),
    "ann_lsh_buckets" -> (annLshBuckets _),
    "ann_lsh_search" -> (annLshSearchQuery _),
    "ann_knn_graph" -> ((s: SparkSession, d: String) => annKnnGraph(s, d)),
    "ann_hard_negatives" -> ((s: SparkSession, d: String) => qHardNegatives(s, d)),
    "ann_bitext_mine" -> (qBitextMine _),
    "ann_recall_report" -> ((s: SparkSession, d: String) => annRecallReport(s, d)),
  )

  /** The SRP hyperplane table is DATA-INDEPENDENT (a splitmix64 hash of
    * (bit, dim) — [[graft.functions.SrpSignature]]), so the oracle can
    * embed it as literals and recompute every signature in SQL: CTE
    * `sig(vec_id, bucket)`. Doubles are emitted at %.17g, which DuckDB
    * parses back to the identical bits. The per-bit dot is a 64-term
    * double sum whose addition order differs across engines; a sign
    * flip would need |dot| at float-noise scale (~1e-13) — never
    * observed on the corpus, and any such vector is equidistant from
    * both buckets semantically anyway.
    */
  private def srpMix(x0: Long): Long = graft.functions.Mix.splitmix64(x0)

  def srpSigCte(d: Int = 64, bits: Int = LshBits): String = {
    val rows = for (bit <- 0 until bits; j <- 0 until d) yield {
      val h = srpMix(bit.toLong << 32 | j.toLong).toDouble / Long.MaxValue
      // Locale.ROOT: the default-locale f"" interpolator would emit comma
      // decimal separators on e.g. a de_DE JVM, breaking the VALUES literal.
      String.format(java.util.Locale.ROOT, "(%d,%d,%.17g)",
        Int.box(bit), Int.box(j), Double.box(h))
    }
    s"""hp(bit, j, h) AS (VALUES ${rows.mkString(",")}),
       |srpee AS (SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS j,
       |  CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
       |dots AS (SELECT e.vec_id, hp.bit, sum(e.x * hp.h) AS dt
       |  FROM srpee e JOIN hp ON e.j = hp.j GROUP BY 1, 2),
       |sig AS MATERIALIZED (SELECT vec_id,
       |  CAST(sum(CASE WHEN dt >= 0 THEN CAST(1 AS BIGINT) << bit ELSE 0 END) AS BIGINT) AS bucket
       |  FROM dots GROUP BY vec_id)""".stripMargin
  }

  /** The AUTO-BITS twin of [[srpSigCte]]: hyperplanes are emitted for
    * `maxBits` bits, and the signature masks to `abits` = the smallest
    * b with 2^b·occupancy ≥ count(embeddings), floored — EXACT integer
    * arithmetic mirroring [[bitsFor]] bit-for-bit (no float log whose
    * ceil could flip at a power of two). This makes the staircase
    * oracles (ann_knn_graph, ann_bitext_mine, dedup_embedding_lsh)
    * exact at ANY corpus up to occupancy·2^maxBits vectors, not just
    * inside the floor regime: the same Verify + DuckDB compare that
    * gates the driver SFs also gates a staged 30x corpus where the
    * staircase has stepped past the floor (see COVERAGE round-11
    * notes for the measured run). Past occupancy·2^maxBits vectors the
    * `abits` CTE raises via DuckDB `error()` instead of letting
    * `greatest` swallow the NULL `min(b)` and silently fall back to
    * the floor — an over-capacity corpus fails the harness loudly
    * rather than diverging from the unbounded Scala [[bitsFor]].
    */
  def srpSigCteAuto(occupancy: Long, floor: Int, d: Int = 64,
      maxBits: Int = 24): String = {
    val rows = for (bit <- 0 until maxBits; j <- 0 until d) yield {
      val h = srpMix(bit.toLong << 32 | j.toLong).toDouble / Long.MaxValue
      String.format(java.util.Locale.ROOT, "(%d,%d,%.17g)",
        Int.box(bit), Int.box(j), Double.box(h))
    }
    s"""hp(bit, j, h) AS (VALUES ${rows.mkString(",")}),
       |nemb AS (SELECT count(*) AS n FROM embeddings),
       |abits AS (SELECT greatest($floor, CAST(coalesce(min(b),
       |    error('srpSigCteAuto: corpus exceeds occupancy<<maxBits=$maxBits — raise maxBits')) AS INT)) AS b
       |  FROM (SELECT unnest(range(0, ${maxBits + 1})) AS b), nemb
       |  WHERE (CAST(1 AS BIGINT) << CAST(b AS INT)) * $occupancy >= n),
       |srpee AS (SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS j,
       |  CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
       |dots AS (SELECT e.vec_id, hp.bit, sum(e.x * hp.h) AS dt
       |  FROM srpee e JOIN hp ON e.j = hp.j
       |  WHERE hp.bit < (SELECT b FROM abits) GROUP BY 1, 2),
       |sig AS MATERIALIZED (SELECT vec_id,
       |  CAST(sum(CASE WHEN dt >= 0 THEN CAST(1 AS BIGINT) << bit ELSE 0 END) AS BIGINT) AS bucket
       |  FROM dots GROUP BY vec_id)""".stripMargin
  }

  /** Shared multi-probe candidate CTE (`cand`): every (query, corpus)
    * pair within signature Hamming distance 1, exact rounded cosine.
    * ONE definition behind the ann_lsh_search, ann_knn_graph, and
    * ann_recall_report oracles, so the probe radius / rounding of the
    * search and of its recall evaluation cannot drift.
    */
  private def lshCandCte(neighborCol: String = "vec_id",
      pred: String = "WHERE q.vec_id < 5"): String =
    s"""cand AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS $neighborCol,
       |         round(list_cosine_similarity(eq.embedding::DOUBLE[], ec.embedding::DOUBLE[]), 4) AS cosine
       |  FROM sig q JOIN sig c
       |    ON bit_count(xor(q.bucket, c.bucket)) <= 1 AND q.vec_id <> c.vec_id
       |  JOIN embeddings eq ON eq.vec_id = q.vec_id
       |  JOIN embeddings ec ON ec.vec_id = c.vec_id
       |  $pred)""".stripMargin

  val oracles: Map[String, String] = Map(
    // both searches recomputed (the shared lshCandCte chain and the
    // exact batch top-5), then the id-set intersection per query
    "ann_recall_report" ->
      s"""WITH ${srpSigCte()},
         |${lshCandCte()},
         |ap AS (SELECT query_id, vec_id FROM (
         |  SELECT query_id, vec_id,
         |         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn
         |  FROM cand) WHERE rn <= 5),
         |qb AS (SELECT vec_id AS query_id, embedding AS query_emb FROM embeddings WHERE vec_id < 5),
         |scored AS (
         |  SELECT qb.query_id, e.vec_id,
         |         round(list_cosine_similarity(e.embedding::DOUBLE[], qb.query_emb::DOUBLE[]), 4) AS cosine
         |  FROM embeddings e, qb WHERE e.vec_id <> qb.query_id),
         |ex AS (SELECT query_id, vec_id FROM (
         |  SELECT query_id, vec_id,
         |         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn
         |  FROM scored) WHERE rn <= 5),
         |hits AS (
         |  SELECT ex.query_id, count(*) AS n_exact, count(ap.vec_id) AS n_hits
         |  FROM ex LEFT JOIN ap ON ap.query_id = ex.query_id AND ap.vec_id = ex.vec_id
         |  GROUP BY ex.query_id),
         |bests AS (
         |  SELECT s.query_id, s.b AS exact_best, a.b AS approx_best FROM
         |    (SELECT query_id, max(cosine) AS b FROM scored GROUP BY query_id) s
         |  LEFT JOIN
         |    (SELECT query_id, max(cosine) AS b FROM cand GROUP BY query_id) a
         |  ON a.query_id = s.query_id)
         |SELECT h.query_id, round(CAST(n_hits AS DOUBLE) / n_exact, 4) AS recall,
         |       exact_best, approx_best
         |FROM hits h JOIN bests USING (query_id) ORDER BY h.query_id""".stripMargin,
    // same auto-staircase signature table (floor 6, occupancy 32 — the
    // bitextAutoBits knob in exact integer SQL), Hamming<=1 cross-pool
    // candidate set, exactly-k top-k means, and rounded-margin
    // mutual-best windows as bitextMine — every ranking on rounded
    // values with id tie-breaks
    "ann_bitext_mine" ->
      s"""WITH ${srpSigCteAuto(occupancy = 32L, floor = 6)},
         |cand AS (
         |  SELECT s.vec_id AS src_id, t.vec_id AS tgt_id,
         |         round(list_cosine_similarity(es.embedding::DOUBLE[], et.embedding::DOUBLE[]), 4) AS cosine
         |  FROM sig s JOIN sig t ON bit_count(xor(s.bucket, t.bucket)) <= 1
         |  JOIN embeddings es ON es.vec_id = s.vec_id
         |  JOIN embeddings et ON et.vec_id = t.vec_id
         |  WHERE s.vec_id % 2 = 0 AND t.vec_id % 2 = 1),
         |enr AS (
         |  SELECT *,
         |    row_number() OVER (PARTITION BY src_id ORDER BY cosine DESC, tgt_id) AS rn_s,
         |    count(*) OVER (PARTITION BY src_id) AS n_s,
         |    row_number() OVER (PARTITION BY tgt_id ORDER BY cosine DESC, src_id) AS rn_t,
         |    count(*) OVER (PARTITION BY tgt_id) AS n_t
         |  FROM cand),
         |enr2 AS (
         |  SELECT *,
         |    CAST(sum(CASE WHEN rn_s <= 4 THEN CAST(cosine AS DECIMAL(6,4)) END)
         |      OVER (PARTITION BY src_id) AS DOUBLE) / 4 AS knn_src,
         |    CAST(sum(CASE WHEN rn_t <= 4 THEN CAST(cosine AS DECIMAL(6,4)) END)
         |      OVER (PARTITION BY tgt_id) AS DOUBLE) / 4 AS knn_tgt
         |  FROM enr),
         |m AS (
         |  SELECT src_id, tgt_id, cosine,
         |         round(cosine * 2 / (knn_src + knn_tgt), 4) AS margin
         |  FROM enr2
         |  WHERE n_s >= 4 AND n_t >= 4 AND (knn_src + knn_tgt) > 0),
         |r AS (
         |  SELECT *,
         |    row_number() OVER (PARTITION BY src_id ORDER BY margin DESC, tgt_id) AS rn_f,
         |    row_number() OVER (PARTITION BY tgt_id ORDER BY margin DESC, src_id) AS rn_b
         |  FROM m)
         |SELECT src_id, tgt_id, cosine, margin FROM r
         |WHERE rn_f = 1 AND rn_b = 1 ORDER BY src_id""".stripMargin,
    "ann_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS query_emb, label AS qlabel
        |           FROM embeddings WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.query_id, e.vec_id, e.label,
        |         round(list_cosine_similarity(e.embedding::DOUBLE[], q.query_emb::DOUBLE[]), 4) AS cosine
        |  FROM embeddings e, q WHERE e.label <> q.qlabel),
        |rk AS (SELECT query_id, vec_id, label, cosine,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INT) AS rn
        |  FROM scored)
        |SELECT query_id, vec_id, label, cosine, rn FROM rk
        |WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin,
    // SRP signatures recomputed from the embedded hyperplane table
    "ann_lsh_buckets" ->
      s"""WITH ${srpSigCte()}
         |SELECT bucket, count(*) AS bucket_size, min(vec_id) AS min_vec_id
         |FROM sig GROUP BY bucket ORDER BY bucket""".stripMargin,
    // multi-probe = own bucket + every Hamming-1 neighbor, i.e. a
    // corpus row is a candidate iff bit_count(xor(sig_q, sig_c)) <= 1;
    // exact cosine re-rank and per-query top-k mirror the Spark window
    "ann_lsh_search" ->
      s"""WITH ${srpSigCte()},
         |${lshCandCte()},
         |rk AS (SELECT query_id, vec_id, cosine,
         |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INT) AS rn
         |  FROM cand)
         |SELECT query_id, vec_id, cosine, rn FROM rk
         |WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin,
    // whole-corpus variant of the ann_lsh_search oracle: every vector is
    // a query, candidates = signature Hamming <= 1 (exactly the
    // own-bucket + 1-bit multi-probe set), top-3 per vector. The
    // signature table follows the SAME autoBits staircase as the
    // registered query (srpSigCteAuto computes bits from the corpus
    // count in exact integer arithmetic), so this oracle is exact at
    // any corpus up to 8·2^24 vectors — the staircase regime included,
    // proven on a staged 30x corpus (COVERAGE round-11 notes).
    "ann_knn_graph" ->
      s"""WITH ${srpSigCteAuto(occupancy = 8L, floor = LshBits)},
         |${lshCandCte(neighborCol = "neighbor_id", pred = "")},
         |rk AS (SELECT query_id, neighbor_id, cosine,
         |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rn
         |  FROM cand)
         |SELECT query_id, neighbor_id, cosine, rn FROM rk
         |WHERE rn <= 3 ORDER BY query_id, rn""".stripMargin,
    // DECIMAL(12,10)-quantized sums mirror embedStats exactly (see its
    // scaladoc); generate_subscripts-1 matches posexplode's 0-based dim
    "q_embed_stats" ->
      """WITH x AS (
        |  SELECT CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
        |         unnest(embedding) AS v
        |  FROM embeddings),
        |a AS (
        |  SELECT dim, count(*) AS n,
        |         CAST(sum(CAST(CAST(v AS DOUBLE) AS DECIMAL(12,10))) AS DOUBLE) AS s1,
        |         CAST(sum(CAST(CAST(v AS DOUBLE) AS DECIMAL(12,10)) *
        |                  CAST(CAST(v AS DOUBLE) AS DECIMAL(12,10))) AS DOUBLE) AS s2,
        |         min(CAST(v AS DOUBLE)) AS vmin, max(CAST(v AS DOUBLE)) AS vmax
        |  FROM x GROUP BY dim)
        |SELECT dim, n, round(s1 / n, 6) AS mean,
        |       round(sqrt((s2 - s1 * s1 / n) / (n - 1)), 6) AS std,
        |       round(vmin, 6) AS vmin, round(vmax, 6) AS vmax
        |FROM a ORDER BY dim""".stripMargin,
    // pre-filtered exact search: predicate on the metadata table, then
    // cosine top-k among the survivors only
    "ann_topk_filtered" ->
      """WITH q AS (SELECT embedding AS query_emb FROM embeddings WHERE vec_id = 0),
        |allowed AS (SELECT doc_id FROM documents WHERE lang = 'en')
        |SELECT e.vec_id,
        |       round(list_cosine_similarity(e.embedding::DOUBLE[], q.query_emb::DOUBLE[]), 4) AS cosine
        |FROM embeddings e JOIN allowed a ON e.vec_id = a.doc_id, q
        |WHERE e.vec_id <> 0
        |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin,
    "ann_topk" ->
      """WITH q AS (SELECT embedding AS query_emb FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id,
        |       round(list_cosine_similarity(e.embedding::DOUBLE[], q.query_emb::DOUBLE[]), 4) AS cosine
        |FROM embeddings e, q WHERE e.vec_id <> 0
        |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin,
    // two-stage ranking mirrored exactly: 32-dim inner-product top-100,
    // then exact cosine top-10 over those candidates
    "ann_topk_truncated" ->
      """WITH q AS (SELECT embedding AS query_emb FROM embeddings WHERE vec_id = 0),
        |cand AS (
        |  SELECT e.vec_id AS vec_id, e.embedding AS embedding, q.query_emb AS query_emb,
        |         round(list_inner_product(e.embedding[1:32]::DOUBLE[], q.query_emb[1:32]::DOUBLE[]), 4) AS prefix_score
        |  FROM embeddings e, q WHERE e.vec_id <> 0
        |  ORDER BY prefix_score DESC, vec_id LIMIT 100)
        |SELECT vec_id,
        |       round(list_cosine_similarity(embedding::DOUBLE[], query_emb::DOUBLE[]), 4) AS cosine,
        |       prefix_score
        |FROM cand
        |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin,
    // replicates QuantizeInt8/DequantizeInt8 float arithmetic exactly:
    // each ::REAL cast rounds the (exact-in-double) intermediate to
    // float32, which equals the JVM's float op for single +,/,* steps;
    // floor(f + 0.5f) mirrors java.lang.Math.round(float)
    "ann_topk_int8" ->
      """WITH s AS (
        |  SELECT vec_id, embedding AS e,
        |         (list_max(list_transform(embedding, x -> abs(x))) / 127)::REAL AS scale
        |  FROM embeddings),
        |d AS (
        |  SELECT vec_id,
        |         CASE WHEN scale > 0 THEN
        |           list_transform(e, x ->
        |             (greatest(-127, least(127,
        |                floor(((x / scale)::REAL + 0.5)::REAL)::INTEGER)) * scale)::REAL)
        |         ELSE list_transform(e, x -> 0.0::REAL) END AS demb
        |  FROM s),
        |q AS (SELECT demb AS qemb FROM d WHERE vec_id = 0)
        |SELECT d.vec_id,
        |       round(list_cosine_similarity(d.demb::DOUBLE[], q.qemb::DOUBLE[]), 4) AS cosine_q
        |FROM d, q WHERE d.vec_id <> 0
        |ORDER BY cosine_q DESC, vec_id LIMIT 10""".stripMargin,
    "ann_topk_batch" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS query_emb FROM embeddings WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.query_id, e.vec_id,
        |         round(list_cosine_similarity(e.embedding::DOUBLE[], q.query_emb::DOUBLE[]), 4) AS cosine
        |  FROM embeddings e, q WHERE e.vec_id <> q.query_id),
        |ranked AS (
        |  SELECT query_id, vec_id, cosine,
        |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INTEGER) AS rn
        |  FROM scored)
        |SELECT query_id, vec_id, cosine, rn FROM ranked WHERE rn <= 5
        |ORDER BY query_id, rn""".stripMargin,
  )
}

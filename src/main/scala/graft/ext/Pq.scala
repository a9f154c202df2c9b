package graft.ext

import graft.Tables
import graft.functions.{PqEncode, VectorFns}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al., TPAMI 2011) — the ANN family's
  * memory-compression serving path: each L2-normalized vector becomes M
  * byte-range codes (64 floats → 8 codes = 32× smaller payload), and
  * queries score the compressed corpus by Asymmetric Distance
  * Computation: a per-query lookup table of dot(query_sub, centroid) per
  * subspace, so scoring a candidate is M table lookups — no float vector
  * ever leaves storage.
  *
  * Scale shape: training is driver-side Lloyd's per subspace over a
  * BOUNDED splitmix64-hash-ordered sample (deterministic and
  * id-layout-independent, like [[Ivf.trainCentroids]] — a lowest-id
  * draw would train only on whatever ingest batch happens to own the
  * low ids at corpus scale);
  * encoding is the compiled [[graft.functions.PqEncode]] expression — a
  * pure map, no shuffle; search broadcasts the per-query ADC tables
  * (query metadata, M·ksub doubles each) over one scan of the code
  * table, ranked by per-query window top-k. At 100 TB the code table is
  * the only thing read — the 32× read-volume cut is the point.
  */
object Pq {

  val M = 8
  val Ksub = 256
  val Iters = 5
  val SampleN = 4096

  private def normalize(v: Array[Float]): Array[Float] = {
    val n = math.sqrt(v.map(x => x.toDouble * x).sum)
    if (n > 0) v.map(x => (x / n).toFloat) else v
  }

  /** Deterministic per-subspace k-means on the L2-normalized sample,
    * drawn in splitmix64-hash order of vec_id (id-layout-independent;
    * see [[Ivf.trainCentroids]] for why a lowest-id draw is biased at
    * corpus scale): evenly-spaced sample init, fixed iterations,
    * argmin-L2 assignment with ties to the lower index (the same rule
    * [[graft.functions.PqEncode.Evaluator]] applies at serve time, so
    * train and serve agree). Empty clusters keep their centroid.
    */
  def trainCodebooks(
      emb: DataFrame, m: Int = M, ksub: Int = Ksub, iters: Int = Iters,
      sampleN: Int = SampleN): Seq[Seq[Seq[Float]]] = {
    import graft.functions.VectorFns
    val sample: Array[Array[Float]] = emb
      .orderBy(VectorFns.mix64(col("vec_id")), col("vec_id")).limit(sampleN)
      .select("embedding")
      .collect().map(r => normalize(r.getSeq[Float](0).toArray))
    require(sample.nonEmpty, "cannot train on an empty corpus")
    val dim = sample(0).length
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val subDim = dim / m
    (0 until m).map { s =>
      val subs = sample.map(_.slice(s * subDim, (s + 1) * subDim))
      var cents: Array[Array[Float]] =
        Array.tabulate(ksub)(i => subs(((i.toLong * subs.length) / ksub).toInt).clone())
      for (_ <- 0 until iters) {
        val sums = Array.ofDim[Double](ksub, subDim)
        val counts = new Array[Long](ksub)
        subs.foreach { v =>
          var best = 0
          var bestDist = Double.MaxValue
          var k = 0
          while (k < ksub) {
            var d = 0.0
            var j = 0
            while (j < subDim) { val t = v(j) - cents(k)(j); d += t * t; j += 1 }
            if (d < bestDist) { bestDist = d; best = k }
            k += 1
          }
          counts(best) += 1
          var j = 0
          while (j < subDim) { sums(best)(j) += v(j); j += 1 }
        }
        cents = Array.tabulate(ksub) { k =>
          if (counts(k) == 0) cents(k)
          else Array.tabulate(subDim)(j => (sums(k)(j) / counts(k)).toFloat)
        }
      }
      cents.toSeq.map(_.toSeq)
    }
  }

  // --- learned-model ARTIFACT (the [[Ivf.ensureModel]] discipline) -----------

  /** Persists trained codebooks as an m·ksub-row parquet table
    * (s, code, cvec float array — exact bit round-trip).
    */
  def modelArtifactWrite(spark: SparkSession, codebooks: Seq[Seq[Seq[Float]]],
      path: String): Unit = {
    import spark.implicits._
    // through the one store protocol: a crash mid-write must not leave
    // serving with no codebooks at all
    graft.ops.Publish.publish(spark, path,
      codebooks.zipWithIndex.flatMap { case (cb, s) =>
        cb.zipWithIndex.map { case (cent, k) => (s, k, cent) }
      }.toDF("s", "code", "cvec").coalesce(1))
  }

  def modelArtifactRead(spark: SparkSession, path: String): Seq[Seq[Seq[Float]]] =
    graft.ops.Publish.readLive(spark, path).orderBy("s", "code")
      .collect()
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_.getInt(1)).map(_.getSeq[Float](2)).toSeq)

  /** Per-(JVM, corpus) default-parameter codebooks: trained + persisted
    * once, reused by every default-model PQ entry (artifact ≡ fresh
    * training, spec-pinned).
    */
  def ensureModel(spark: SparkSession, dir: String): Seq[Seq[Seq[Float]]] =
    loadedModels.getOrElseUpdate(dir, {
      val emb = Tables.embeddings(spark, dir)
      val path = graft.ops.Scratch.fixtureDir("pq_model").resolve("model").toString
      modelArtifactWrite(spark, trainCodebooks(emb), path)
      modelArtifactRead(spark, path)
    })

  private val loadedModels =
    scala.collection.concurrent.TrieMap.empty[String, Seq[Seq[Seq[Float]]]]

  /** L2-normalized copy of a float-array column (norm computed once). */
  private def normalizedCol(v: Column): Column = {
    val nrm = VectorFns.l2norm(v)
    transform(v, x => (x / nrm).cast("float"))
  }

  /** Corpus → (vec_id, codes): one compiled map over the scan. A
    * production format packs the M byte-range ints into a binary column;
    * the int array keeps the codes readable for the oracle/specs without
    * changing the plan shape.
    */
  def encodeCorpus(emb: DataFrame, codebooks: Seq[Seq[Seq[Float]]]): DataFrame =
    emb.select(col("vec_id"),
      PqEncode(normalizedCol(col("embedding")), codebooks).as("codes"))

  /** Incremental code-table maintenance — the [[graft.ext.Ivf.layoutAppend]]
    * twin: an arriving batch is encoded under the live codebooks and
    * appended as a [[graft.ops.StoreIO]] delta child, already-present
    * vec_ids (live ∪ delta) filtered first so batch replay is
    * idempotent. Union over batches equals the from-scratch
    * [[encodeCorpus]] (encoding is per-row under a frozen model);
    * [[codesAuditDf]] gates the result.
    */
  def codesAppend(embBatch: DataFrame, codebooks: Seq[Seq[Seq[Float]]],
      path: String): Unit = {
    val spark = embBatch.sparkSession
    val existing = graft.ops.StoreIO.read(spark, path).select(col("vec_id"))
    graft.ops.StoreIO.append(encodeCorpus(
      embBatch.join(existing, Seq("vec_id"), "left_anti"), codebooks), path)
  }

  /** ADC search: per-query lookup tables (flat m·ksub doubles,
    * table[m·ksub + k] = dot(query_sub_m, centroid_mk)) are computed
    * driver-side from the BOUNDED query block and broadcast; scoring is
    * a codegen'd fold over the M codes — table lookups only. Exact
    * cosine of the reconstruction, ranked per query.
    */
  def search(
      corpusCodes: DataFrame, queryVecs: DataFrame,
      codebooks: Seq[Seq[Seq[Float]]], k: Int): DataFrame = {
    val spark = corpusCodes.sparkSession
    val m = codebooks.length
    val ksub = codebooks(0).length
    val queries: Array[(Long, Array[Float])] = queryVecs
      .select(col("query_id"), col("query_emb"))
      .collect().map(r => r.getLong(0) -> normalize(r.getSeq[Float](1).toArray))
    val tables = queries.map { case (qid, q) =>
      val subDim = q.length / m
      val t = new Array[Double](m * ksub)
      for (s <- 0 until m; c <- 0 until ksub) {
        val cent = codebooks(s)(c)
        var dot = 0.0
        var j = 0
        while (j < subDim) { dot += q(s * subDim + j).toDouble * cent(j); j += 1 }
        t(s * ksub + c) = dot
      }
      (qid, t.toSeq)
    }.toSeq
    import spark.implicits._
    val tablesDf = tables.toDF("query_id", "qtable")
    val adc = expr(s"aggregate(sequence(0, ${m - 1}), CAST(0.0 AS DOUBLE), " +
      s"(acc, s) -> acc + element_at(qtable, s * $ksub + element_at(codes, s + 1) + 1))")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_score").desc, col("vec_id"))
    corpusCodes.crossJoin(broadcast(tablesDf))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), round(adc, 4).as("adc_score"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .orderBy("query_id", "rn")
  }

  /** Driver-contract entry: PQ-compressed top-5 for the first 5
    * vectors. Oracle-checked via the unrolled per-subspace Lloyd's SQL
    * ([[pqCte]]); code shape, planted-pair recall, and ADC faithfulness
    * are additionally asserted in ExtSpec.
    */
  def annPqSearch(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val codebooks = ensureModel(spark, dir)
    val corpus = encodeCorpus(emb, codebooks)
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_emb"))
    search(corpus, queries, codebooks, k = 5)
  }

  /** Per-(JVM, corpus) persisted PQ code table: the corpus encoded ONCE
    * under the ensure-cached codebooks and stored as parquet — the
    * serving artifact PQ exists for. Encoding per query block (what
    * [[annPqSearch]] registers, to stay self-contained) reads the full
    * float corpus every time; the served form scans the code table at
    * M bytes of payload per vector instead of 64 floats (32×), and the
    * embedding column stays cold. Ingest cost; Bench pre-builds it
    * untimed, and ExtSpec pins stored-codes search ≡ fresh-encode
    * search row for row.
    */
  def ensureCodes(spark: SparkSession, dir: String): String =
    scratchCodes.getOrElseUpdate(dir, {
      val codes = encodeCorpus(Tables.embeddings(spark, dir), ensureModel(spark, dir))
      val p = graft.ops.Scratch.fixtureDir("pq_codes").resolve("codes").toString
      graft.ops.Publish.publish(spark, p, codes)
      p
    })

  private val scratchCodes =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** The SERVED form of [[annPqSearch]]: identical results (same
    * oracle), but ADC scans the persisted code table. The timed
    * difference between the two entries is the serving story — code
    * bytes vs float corpus per query block.
    */
  def annPqSearchServed(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val codebooks = ensureModel(spark, dir)
    val corpus = graft.ops.Publish.readLive(spark, ensureCodes(spark, dir))
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_emb"))
    search(corpus, queries, codebooks, k = 5)
  }

  /** CODE-TABLE AUDIT — the PQ member of the store-audit family
    * ([[graft.ext.Ivf.ivfLayoutAuditDf]] is the IVF twin): the
    * persisted code table ([[ensureCodes]]) is what serving reads, so
    * it needs the same trust check as every other maintained store.
    * One [[Audit.keyedAuditDf]] pass on vec_id: volume; replay
    * duplicates (vec_ids in >1 row); coverage vs the corpus; rows whose
    * code vector is not exactly M codes (a torn write); and codes
    * re-derived under the live codebooks on the fixed splitmix64 hash
    * sample ([[Audit.vecSample]]) vs the stored rows
    * ([[graft.functions.PqEncode]] is deterministic and a row's codes
    * depend only on its own vector and the model — the pairwise-local
    * audit argument). Healthy = all-zero
    * violations, oracle-pinned, so bit rot, a crashed re-encode, or
    * staleness after retraining fails the hash gate.
    */
  def codesAuditDf(emb: DataFrame, codes: DataFrame,
      codebooks: Seq[Seq[Seq[Float]]], sample: DataFrame): DataFrame = {
    require(codebooks.nonEmpty, "codesAuditDf: empty codebooks")
    Audit.keyedAuditDf(Seq("vec_id"), emb, codes.select(col("vec_id"), col("codes")),
        Some(sample.select(col("vec_id"),
          PqEncode(normalizedCol(col("embedding")), codebooks).as("codes_re"))),
        Seq("n_code_mismatch" -> (col("codes").isNull || col("codes") =!= col("codes_re"))),
        Seq("n_len_bad" -> lenBad(codebooks)))
      .select(col("n_store").as("n_codes"), col("n_multi"), col("n_missing"),
        col("n_orphans"), col("n_len_bad"), col("sample_n"),
        col("n_code_mismatch"))
  }

  /** A stored code vector that is not exactly M codes (a torn write). */
  private def lenBad(codebooks: Seq[Seq[Seq[Float]]]): Column = Audit.flag(
    col("codes").isNull || size(col("codes")) =!= codebooks.size)

  def annCodesAudit(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    codesAuditDf(emb, graft.ops.Publish.readLive(spark, ensureCodes(spark, dir)),
      ensureModel(spark, dir), Audit.vecSample(emb))
  }

  /** IVFPQ-LAYOUT AUDIT — [[codesAuditDf]] covers the FLAT code table;
    * this audits the hive-partitioned serving layout
    * ([[ensureIvfPqLayout]]) that `ann_ivfpq_search_served` actually
    * reads, under BOTH live models at once: volume and occupied-list
    * count, replay duplicates, coverage vs the corpus, torn
    * code vectors, and — on the fixed splitmix64 hash sample — the
    * list assignment re-derived under the live coarse quantizer plus
    * the codes re-derived under the live codebooks, each counted once
    * per vec_id (the per-key aggregate discipline). Healthy = all-zero
    * violations, oracle-pinned (the kmeans CTE mirrors `n_lists`).
    */
  def ivfPqLayoutAuditDf(emb: DataFrame, layout: DataFrame,
      cents: Seq[Seq[Float]], codebooks: Seq[Seq[Seq[Float]]],
      sample: DataFrame): DataFrame = {
    require(cents.nonEmpty && codebooks.nonEmpty,
      "ivfPqLayoutAuditDf: empty models")
    val l = layout.select(col("vec_id"), col("codes"),
      col("list_id").cast("int").as("list_id"))
    Audit.keyedAuditDf(Seq("vec_id"), emb, l,
        Some(sample.select(col("vec_id"),
          element_at(graft.functions.NearestCentroids(col("embedding"), cents, 1), 1)
            .as("list_re"),
          PqEncode(normalizedCol(col("embedding")), codebooks).as("codes_re"))),
        Seq("n_misassigned" -> (col("list_id").isNull || col("list_id") =!= col("list_re")),
          "n_code_mismatch" -> (col("codes").isNull || col("codes") =!= col("codes_re"))),
        Seq("n_len_bad" -> lenBad(codebooks)))
      .crossJoin(l.agg(countDistinct(col("list_id")).as("n_lists")))
      .select(col("n_store").as("n_rows"), col("n_lists"), col("n_multi"),
        col("n_missing"), col("n_orphans"), col("n_len_bad"), col("sample_n"),
        col("n_misassigned"), col("n_code_mismatch"))
  }

  def annIvfPqLayoutAudit(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    ivfPqLayoutAuditDf(emb,
      graft.ops.Publish.readLive(spark, ensureIvfPqLayout(spark, dir)),
      Ivf.ensureModel(spark, dir), ensureModel(spark, dir), Audit.vecSample(emb))
  }

  /** IVF+PQ (IVFADC, Jégou et al. §IV) — the composition that serves
    * billion-vector corpora: the IVF coarse quantizer restricts each
    * query to its nProbe nearest inverted lists (at 100 TB, with the
    * corpus hive-partitioned by list as [[Ivf.writeIvfPartitioned]]
    * lays it out, that is partition pruning), and PQ codes are all that
    * is scored inside a probed list — so a query reads nProbe/K of the
    * corpus at 1/32 the bytes per vector. Probes join on list_id
    * (broadcast — they are query metadata), each corpus vector lives in
    * exactly one list so no candidate dedup is needed, and ranking is
    * the same per-query ADC window top-k as the flat PQ search.
    */
  /** The ONE probe-list rule (normalized query → nProbe nearest lists
    * via the NearestCentroids evaluator) — shared by [[ivfPqSearch]]'s
    * broadcast probes and [[annIvfPqSearchServed]]'s static partition
    * filter, so the filter can never prune a directory the join still
    * expects.
    */
  private def driverProbes(queries: Array[(Long, Array[Float])],
      centroids: Seq[Seq[Float]], nProbe: Int): Seq[(Long, Int)] = {
    val probeEval = new graft.functions.NearestCentroids.Evaluator(
      centroids.map(_.toArray).toArray, nProbe)
    queries.toSeq.flatMap { case (qid, q) =>
      val lists = probeEval.eval(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(q))
      (0 until nProbe).map(i => (qid, lists.getInt(i)))
    }
  }

  def ivfPqSearch(
      corpusCodes: DataFrame, queryVecs: DataFrame, centroids: Seq[Seq[Float]],
      codebooks: Seq[Seq[Seq[Float]]], k: Int, nProbe: Int = Ivf.NProbe): DataFrame = {
    val spark = corpusCodes.sparkSession
    val m = codebooks.length
    val ksub = codebooks(0).length
    val queries: Array[(Long, Array[Float])] = queryVecs
      .select(col("query_id"), col("query_emb"))
      .collect().map(r => r.getLong(0) -> normalize(r.getSeq[Float](1).toArray))
    // probe lists + ADC tables, both driver-computed from the bounded
    // query block (the corpus is never touched before the list join)
    val probes = driverProbes(queries, centroids, nProbe)
    val tables = queries.map { case (qid, q) =>
      val subDim = q.length / m
      val t = new Array[Double](m * ksub)
      for (s <- 0 until m; c <- 0 until ksub) {
        val cent = codebooks(s)(c)
        var dot = 0.0
        var j = 0
        while (j < subDim) { dot += q(s * subDim + j).toDouble * cent(j); j += 1 }
        t(s * ksub + c) = dot
      }
      (qid, t.toSeq)
    }.toSeq
    import spark.implicits._
    val probesDf = probes.toDF("query_id", "list_id")
    val tablesDf = tables.toDF("query_id", "qtable")
    val adc = expr(s"aggregate(sequence(0, ${m - 1}), CAST(0.0 AS DOUBLE), " +
      s"(acc, s) -> acc + element_at(qtable, s * $ksub + element_at(codes, s + 1) + 1))")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_score").desc, col("vec_id"))
    corpusCodes
      .join(broadcast(probesDf), Seq("list_id"))
      .join(broadcast(tablesDf), Seq("query_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("list_id"), round(adc, 4).as("adc_score"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .orderBy("query_id", "rn")
  }

  /** Driver-contract entry: IVFADC top-5 for the first 5 vectors.
    * Oracle-checked ([[pqCte]] + [[Ivf.kmeansCte]]); ExtSpec asserts
    * equality with the flat ADC search restricted to the probed lists,
    * and planted-neighbor recall.
    */
  def annIvfPqSearch(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val cents = Ivf.ensureModel(spark, dir)
    val codebooks = ensureModel(spark, dir)
    val corpus = Ivf.assignLists(emb, cents)
      .select(col("vec_id"), col("list_id"),
        PqEncode(normalizedCol(col("embedding")), codebooks).as("codes"))
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_emb"))
    ivfPqSearch(corpus, queries, cents, codebooks, k = 5)
  }

  /** Per-(JVM, corpus) persisted IVFADC layout: the PQ code table
    * hive-partitioned by inverted list — BOTH serving levers in one
    * artifact (a probed query reads nProbe/K of the directories at
    * file-listing time, and what it reads is M code bytes per vector,
    * not 64 floats). Encoded + assigned once at ingest under the
    * ensure-cached quantizers; Bench pre-builds it untimed.
    */
  /** The IVFADC serving layout's ONE frame definition — shared by the
    * staged artifact ([[ensureIvfPqLayout]]), the audit's healthy
    * expectation, and the maintenance reencode remedy.
    */
  def ivfPqLayoutFrame(emb: DataFrame, cents: Seq[Seq[Float]],
      codebooks: Seq[Seq[Seq[Float]]]): DataFrame =
    Ivf.assignLists(emb, cents)
      .select(col("vec_id"),
        PqEncode(normalizedCol(col("embedding")), codebooks).as("codes"),
        col("list_id"))

  def ensureIvfPqLayout(spark: SparkSession, dir: String): String =
    scratchIvfPqLayouts.getOrElseUpdate(dir, {
      val layout = ivfPqLayoutFrame(Tables.embeddings(spark, dir),
        Ivf.ensureModel(spark, dir), ensureModel(spark, dir))
      val p = graft.ops.Scratch.fixtureDir("ivfpq_layout").resolve("codes").toString
      graft.ops.Publish.publish(spark, p, layout, partitionBy = Seq("list_id"))
      p
    })

  private val scratchIvfPqLayouts =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** The SERVED form of [[annIvfPqSearch]]: identical results (same
    * oracle), but the scan reads the [[ensureIvfPqLayout]] directories
    * selected by a STATIC partition filter built from the driver-side
    * probe lists (the [[Ivf.ivfSearchPartitioned]] discipline — probe
    * ids are query metadata, so PartitionFilters prune at listing
    * time; ExtSpec asserts both the pruning and row equality).
    */
  def annIvfPqSearchServed(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val cents = Ivf.ensureModel(spark, dir)
    val codebooks = ensureModel(spark, dir)
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_emb"))
    // static filter keys from the SAME driver-side probe rule the join
    // uses (no extra Spark job, no scoring-rule coupling)
    val qArr = queries.collect()
      .map(r => r.getLong(0) -> normalize(r.getSeq[Float](1).toArray))
    val probeKeys = driverProbes(qArr, cents, Ivf.NProbe).map(_._2).distinct
    val corpus = graft.ops.Publish.readLive(spark, ensureIvfPqLayout(spark, dir))
      .filter(col("list_id").isin(probeKeys: _*))
      .select(col("vec_id"), col("list_id"), col("codes"))
    ivfPqSearch(corpus, queries, cents, codebooks, k = 5)
  }

  /** Code-space occupancy: distinct codes used per subspace — the
    * quantity that says whether the codebook is actually spreading the
    * corpus (a collapsed subspace means wasted bits).
    */
  def annPqOccupancy(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val corpus = encodeCorpus(emb, ensureModel(spark, dir))
    corpus.select(posexplode(col("codes")).as(Seq("subspace", "code")))
      .groupBy(col("subspace"))
      .agg(countDistinct(col("code")).as("codes_used"), count(lit(1)).as("n"))
      .orderBy("subspace")
  }

  /** Codebook-quality evaluation AS A QUERY — per-subspace quantization
    * error of the trained PQ codebook over the whole corpus: mean and max
    * squared L2 distance between each normalized subvector and its
    * assigned centroid. This is THE number product quantization is
    * graded by (Jégou et al. §III: ADC score error is bounded by
    * quantization error), and per-subspace resolution shows a collapsed
    * or under-trained subspace directly — the PQ leg of the index
    * evaluation family (LSH → [[Similarity.annRecallReport]], IVF →
    * [[Ivf.annProbeCurve]], MinHash → [[Dedup.dedupLshCalibration]]).
    *
    * Exactness: each of the 8 per-subspace terms (x−v)² is EXACT in
    * double (float operands: the subtract is exact, the square has a
    * 48-bit mantissa), and both engines fold the terms in index order
    * (Spark `aggregate` is a sequential left fold; the oracle pivots to
    * t0..t7 and adds in an explicit left-parenthesized chain), so the
    * per-(vector, subspace) distance is the IDENTICAL double. Corpus
    * aggregation then quantizes to DECIMAL(20,12) before summing (the
    * embedStats discipline — identical addends in an association-free
    * type), and max is order-free.
    *
    * Scale shape: one compiled encode pass + one explode to (vec,
    * subspace) joined against the BROADCAST m·ksub codebook; output is
    * m rows.
    */
  def annPqDistortion(spark: SparkSession, dir: String): DataFrame = {
    val d2012 = org.apache.spark.sql.types.DataTypes.createDecimalType(20, 12)
    val emb = Tables.embeddings(spark, dir)
    val codebooks = ensureModel(spark, dir)
    val subDim = 64 / M
    import spark.implicits._
    val cbDf = broadcast(codebooks.zipWithIndex.flatMap { case (cb, s) =>
      cb.zipWithIndex.map { case (cent, k) => (s, k, cent) }
    }.toDF("s", "code", "cvec"))
    val dist = aggregate(
      sequence(lit(0), lit(subDim - 1)), lit(0.0),
      (acc, j) => {
        val xd = element_at(col("xn"), col("s") * subDim + j + 1).cast("double")
        val cd = element_at(col("cvec"), j + 1).cast("double")
        acc + (xd - cd) * (xd - cd)
      })
    emb.select(col("vec_id"), normalizedCol(col("embedding")).as("xn"),
        PqEncode(normalizedCol(col("embedding")), codebooks).as("codes"))
      .select(col("vec_id"), col("xn"),
        posexplode(col("codes")).as(Seq("s", "code")))
      .join(cbDf, Seq("s", "code"))
      .select(col("s"), dist.as("dist"))
      .groupBy(col("s"))
      .agg(count(lit(1)).as("n"), sum(col("dist").cast(d2012)).as("dsum"),
        max(col("dist")).as("dmax"))
      .select(col("s").cast("int").as("subspace"), col("n"),
        round(col("dsum").cast("double") / col("n"), 8).as("mean_sq_err"),
        round(col("dmax"), 8).as("max_sq_err"))
      .orderBy("subspace")
  }

  /** Code-budget grid for [[annPqCurve]]: M subspaces = M bytes per
    * vector at ksub=256 (64→16× / 8× / 4× compression). Unlike the IVF
    * probe grid, the points do NOT nest — each M trains its own
    * per-subspace codebooks — so nothing on this curve is monotone BY
    * CONSTRUCTION; what the grid guarantees structurally is only that
    * code_bytes = M and that every point is scored against the same
    * exact truth. Distortion falling and recall rising with M is the
    * EMPIRICAL readout (finer subspaces quantize less per block), and
    * ExtSpec asserts the measured direction on the test corpus rather
    * than pretending it is a theorem.
    */
  val PqCurveGrid: Array[Int] = Array(4, 8, 16)

  /** PQ operating curve AS A QUERY — recall@k and mean reconstruction
    * distortion at every code budget in [[PqCurveGrid]]: the measurement
    * that answers "how small can the codes get before recall dies",
    * extending the knob-sweep family (IVF nProbe → [[Ivf.annProbeCurve]],
    * jaccard threshold → [[graft.ext.Dedup.thresholdSweepDf]]) to the
    * PQ compression knob that [[annPqDistortion]] grades at one point.
    *
    * Exactness: per-(vector, subspace) reconstruction distances are the
    * identical doubles in both engines (the [[annPqDistortion]] fold
    * argument), quantized to DECIMAL(20,12) before the corpus sum;
    * recall counts are integers against the exact 4-dp-rounded cosine
    * top-k truth; the two final divisions are the only floats.
    *
    * Scale shape: per grid point, training is driver-side over the
    * BOUNDED hash sample and scoring is one compiled encode pass + a
    * broadcast-codebook explode join (distortion) and one codes scan
    * against broadcast ADC tables (search) — each leg a single pruned
    * corpus pass, DELIBERATELY not materialized across legs (the
    * text_heaps rule: pinning a corpus-sized normalized-vector table in
    * the block manager to save re-scans is the wrong trade at 100 TB);
    * the exact truth is computed ONCE (query-block-sized, checkpointed)
    * and shared by all grid points. Output is |grid| rows.
    */
  def annPqCurve(spark: SparkSession, dir: String): DataFrame = {
    // k is deliberately NOT a parameter: the DuckDB oracle hard-codes
    // rn <= 5 and vec_id < 5 in its top-k and truth CTEs, so a caller-
    // supplied k would silently break oracle parity (r13 ADVICE).
    val k = 5
    val d2012 = org.apache.spark.sql.types.DataTypes.createDecimalType(20, 12)
    val emb = Tables.embeddings(spark, dir)
    // query-block-sized ground truth, consumed by every grid point
    val exact = Similarity.annTopkBatch(spark, dir, nQueries = 5, k = 5)
      .select(col("query_id"), col("vec_id"))
      .localCheckpoint()
    val queriesDf = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_emb"))
    import spark.implicits._
    val legs = PqCurveGrid.map { m =>
      val codebooks = trainCodebooks(emb, m = m)
      val subDim = 64 / m
      val cbDf = broadcast(codebooks.zipWithIndex.flatMap { case (cb, s) =>
        cb.zipWithIndex.map { case (cent, kk) => (s, kk, cent) }
      }.toDF("s", "code", "cvec"))
      val dist = aggregate(
        sequence(lit(0), lit(subDim - 1)), lit(0.0),
        (acc, j) => {
          val xd = element_at(col("xn"), col("s") * subDim + j + 1).cast("double")
          val cd = element_at(col("cvec"), j + 1).cast("double")
          acc + (xd - cd) * (xd - cd)
        })
      // distortion leg: one encode scan, rolled up to the corpus mean
      // per-vector squared reconstruction error (the sum of the M
      // per-subspace terms)
      val distortion = emb
        .select(col("vec_id"), normalizedCol(col("embedding")).as("xn"),
          PqEncode(normalizedCol(col("embedding")), codebooks).as("codes"))
        .select(col("vec_id"), col("xn"),
          posexplode(col("codes")).as(Seq("s", "code")))
        .join(cbDf, Seq("s", "code"))
        .select(col("vec_id"), dist.cast(d2012).as("dist"))
        .groupBy()
        .agg(countDistinct(col("vec_id")).as("n_vectors"),
          sum(col("dist")).as("dsum"))
      // recall leg: ADC top-k per query vs the shared exact truth
      val hits = search(encodeCorpus(emb, codebooks), queriesDf, codebooks, k)
        .join(exact, Seq("query_id", "vec_id"))
        .groupBy().agg(count(lit(1)).as("n_hits"))
      val nExact = exact.groupBy().agg(count(lit(1)).as("n_exact"))
      distortion.crossJoin(hits).crossJoin(nExact)
        .select(lit(m).as("m"), lit(m).as("code_bytes"), col("n_vectors"),
          round(col("dsum").cast("double") / col("n_vectors"), 8).as("mean_sq_err"),
          col("n_hits"), col("n_exact"),
          round(col("n_hits").cast("double") / col("n_exact"), 4).as("recall"))
    }
    legs.reduce(_.unionByName(_)).orderBy("m")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_pq_search" -> (annPqSearch _),
    "ann_pq_search_served" -> (annPqSearchServed _),
    "ann_pq_occupancy" -> (annPqOccupancy _),
    "ann_ivfpq_search" -> (annIvfPqSearch _),
    "ann_ivfpq_search_served" -> (annIvfPqSearchServed _),
    "ann_pq_distortion" -> (annPqDistortion _),
    "ann_pq_curve" -> ((s: SparkSession, d: String) => annPqCurve(s, d)),
    "ann_codes_audit" -> (annCodesAudit _),
    "ann_ivfpq_layout_audit" -> (annIvfPqLayoutAudit _),
  )

  /** Per-subspace Lloyd's unrolled in SQL, the PQ twin of
    * [[Ivf.kmeansCte]] (see its scaladoc for why the float truncation
    * makes the learned model cross-engine bit-stable). One subtlety:
    * the TRAINER accumulates float-precision squared differences
    * (`t = v(j) - cents(k)(j)` is a Float subtract and Float multiply
    * before the double add), while serve-time [[PqEncode.Evaluator]]
    * computes in double throughout — the oracle mirrors EACH faithfully,
    * forcing the float steps with CAST(... AS REAL) (innocuous double
    * rounding: double's 53 bits ≥ 2·24+2, so rounding the double result
    * to float equals direct float arithmetic). CTE ends in
    * `codes(vec_id, s, code)`, the full-corpus PQ code table, plus
    * `qtab(query_id, s, k, t)` (per-query ADC tables for vec_id < 5)
    * and `adc(query_id, vec_id, adc_score)`. Verified bit-equal to the
    * Spark encode at sf0.01.
    */
  def pqCte(m: Int = M, ksub: Int = Ksub, iters: Int = Iters,
      sampleN: Int = SampleN, subDim: Int = 8, pfx: String = ""): String = {
    val P = pfx // empty for the single-model oracles; "m4"/"m8"/"m16"
    //            for the curve oracle's three coexisting instantiations
    val rounds = (1 to iters).map { r =>
      val p = s"${P}cb${r - 1}"
      s"""${P}pd$r AS (
         |  SELECT ps.vec_id, cb.s, cb.k,
         |    sum(CAST(CAST(CAST(ps.x - cb.v AS REAL) * CAST(ps.x - cb.v AS REAL) AS REAL) AS DOUBLE)) AS dist
         |  FROM ${P}psub ps JOIN $p cb ON ps.s = cb.s AND ps.sj = cb.sj
         |  GROUP BY 1, 2, 3),
         |${P}pa$r AS MATERIALIZED (
         |  SELECT vec_id, s, k AS cl FROM (
         |    SELECT vec_id, s, k, row_number() OVER (PARTITION BY vec_id, s ORDER BY dist ASC, k ASC) AS rn
         |    FROM ${P}pd$r) WHERE rn = 1),
         |${P}cb$r AS MATERIALIZED (
         |  SELECT p.s, p.k, p.sj, coalesce(CAST(m.mv AS REAL), p.v) AS v
         |  FROM $p p LEFT JOIN (
         |    SELECT a.s, a.cl AS k, ps.sj, avg(CAST(ps.x AS DOUBLE)) AS mv
         |    FROM ${P}pa$r a JOIN ${P}psub ps ON ps.vec_id = a.vec_id AND ps.s = a.s
         |    GROUP BY 1, 2, 3) m
         |  ON m.s = p.s AND m.k = p.k AND m.sj = p.sj)""".stripMargin
    }.mkString(",\n")
    s"""${P}pea AS MATERIALIZED (
       |  SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS j,
       |         CAST(CAST(unnest(embedding) AS REAL) AS DOUBLE) AS x FROM embeddings),
       |${P}pnrm AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ${P}pea GROUP BY vec_id),
       |${P}pn AS MATERIALIZED (
       |  SELECT pea.vec_id, pea.j,
       |         CASE WHEN nrm > 0 THEN CAST(pea.x / nrm AS REAL) ELSE CAST(pea.x AS REAL) END AS x
       |  FROM ${P}pea pea JOIN ${P}pnrm USING (vec_id)),
       |${P}pallsub AS MATERIALIZED (
       |  SELECT vec_id, j // $subDim AS s, j % $subDim AS sj, x FROM ${P}pn),
       |${graft.functions.MixSql.hashSampleCtes(s"${P}p", "embeddings", "vec_id", sampleN)},
       |${P}pns AS (SELECT count(*) AS n FROM ${P}psamp),
       |${P}psub AS MATERIALIZED (
       |  SELECT p.vec_id, p.s, p.sj, p.x FROM ${P}pallsub p JOIN ${P}psamp USING (vec_id)),
       |${P}cb0 AS MATERIALIZED (
       |  SELECT t.s, t.k, ps.sj, ps.x AS v
       |  FROM (SELECT a.s, b.k FROM (SELECT unnest(range($m)) AS s) a, (SELECT unnest(range($ksub)) AS k) b) t
       |  JOIN ${P}psamp psamp ON psamp.rk = (t.k * (SELECT n FROM ${P}pns)) // $ksub
       |  JOIN ${P}psub ps ON ps.vec_id = psamp.vec_id AND ps.s = t.s),
       |$rounds,
       |${P}enc_d AS (
       |  SELECT p.vec_id, cb.s, cb.k,
       |    sum((CAST(p.x AS DOUBLE) - CAST(cb.v AS DOUBLE)) * (CAST(p.x AS DOUBLE) - CAST(cb.v AS DOUBLE))) AS dist
       |  FROM ${P}pallsub p JOIN ${P}cb$iters cb ON p.s = cb.s AND p.sj = cb.sj
       |  GROUP BY 1, 2, 3),
       |${P}codes AS MATERIALIZED (
       |  SELECT vec_id, s, k AS code FROM (
       |    SELECT vec_id, s, k, row_number() OVER (PARTITION BY vec_id, s ORDER BY dist ASC, k ASC) AS rn
       |    FROM ${P}enc_d) WHERE rn = 1),
       |${P}qtab AS MATERIALIZED (
       |  SELECT q.vec_id AS query_id, cb.s, cb.k,
       |         sum(CAST(q.x AS DOUBLE) * CAST(cb.v AS DOUBLE)) AS t
       |  FROM ${P}pallsub q JOIN ${P}cb$iters cb ON q.s = cb.s AND q.sj = cb.sj
       |  WHERE q.vec_id < 5 GROUP BY 1, 2, 3),
       |${P}adc AS (
       |  SELECT qt.query_id, c.vec_id, round(sum(qt.t), 4) AS adc_score
       |  FROM ${P}codes c JOIN ${P}qtab qt ON qt.s = c.s AND qt.k = c.code
       |  WHERE c.vec_id <> qt.query_id
       |  GROUP BY 1, 2)""".stripMargin
  }

  private lazy val pqSearchOracleSql: String =
    s"""WITH ${pqCte()}
       |SELECT query_id, vec_id, adc_score, rn FROM (
       |  SELECT query_id, vec_id, adc_score,
       |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY adc_score DESC, vec_id) AS INT) AS rn
       |  FROM adc) WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin

  val oracles: Map[String, String] = Map(
    // term products are exact doubles; the t0..t7 pivot + explicit
    // left-parenthesized chain reproduces Spark's sequential fold, so
    // the per-(vec, subspace) distance is the identical double before
    // the DECIMAL(20,12) corpus sum
    "ann_pq_distortion" -> {
      val subDim = 64 / M
      val ts = (0 until subDim)
        .map(j => s"max(CASE WHEN sj = $j THEN t END) AS t$j").mkString(",\n         ")
      val chain = (0 until subDim).map(j => s"t$j")
        .foldLeft("CAST(0.0 AS DOUBLE)")((acc, t) => s"($acc + $t)")
      s"""WITH ${pqCte()},
         |term AS (
         |  SELECT p.vec_id, p.s, p.sj,
         |         (CAST(p.x AS DOUBLE) - CAST(cb.v AS DOUBLE)) *
         |         (CAST(p.x AS DOUBLE) - CAST(cb.v AS DOUBLE)) AS t
         |  FROM pallsub p
         |  JOIN codes c ON c.vec_id = p.vec_id AND c.s = p.s
         |  JOIN cb$Iters cb ON cb.s = p.s AND cb.k = c.code AND cb.sj = p.sj),
         |piv AS (
         |  SELECT vec_id, s,
         |         $ts
         |  FROM term GROUP BY 1, 2),
         |d AS (SELECT vec_id, s, $chain AS dist FROM piv)
         |SELECT CAST(s AS INT) AS subspace, CAST(count(*) AS BIGINT) AS n,
         |       round(CAST(sum(CAST(dist AS DECIMAL(20,12))) AS DOUBLE) / count(*), 8) AS mean_sq_err,
         |       round(max(dist), 8) AS max_sq_err
         |FROM d GROUP BY s ORDER BY subspace""".stripMargin
    },
    "ann_pq_occupancy" ->
      s"""WITH ${pqCte()}
         |SELECT CAST(s AS INT) AS subspace, count(DISTINCT code) AS codes_used, count(*) AS n
         |FROM codes GROUP BY s ORDER BY subspace""".stripMargin,
    // three coexisting pqCte instantiations (prefixes m4/m8/m16), each
    // mirrored by the ann_pq_distortion pivot-chain for its mean error
    // and the ann_pq_search rank rule for its ADC top-k, all scored
    // against ONE exact-cosine truth CTE (the probe-curve ex mirror)
    "ann_pq_curve" -> {
      val legs = PqCurveGrid
        .map(m => pqCte(m = m, subDim = 64 / m, pfx = s"m$m")).mkString(",\n")
      val perM = PqCurveGrid.map { m =>
        val p = s"m$m"
        val subDim = 64 / m
        val ts = (0 until subDim)
          .map(j => s"max(CASE WHEN sj = $j THEN t END) AS t$j").mkString(",\n         ")
        val chain = (0 until subDim).map(j => s"t$j")
          .foldLeft("CAST(0.0 AS DOUBLE)")((acc, t) => s"($acc + $t)")
        s"""${p}term AS (
           |  SELECT pp.vec_id, pp.s, pp.sj,
           |         (CAST(pp.x AS DOUBLE) - CAST(cb.v AS DOUBLE)) *
           |         (CAST(pp.x AS DOUBLE) - CAST(cb.v AS DOUBLE)) AS t
           |  FROM ${p}pallsub pp
           |  JOIN ${p}codes c ON c.vec_id = pp.vec_id AND c.s = pp.s
           |  JOIN ${p}cb$Iters cb ON cb.s = pp.s AND cb.k = c.code AND cb.sj = pp.sj),
           |${p}piv AS (
           |  SELECT vec_id, s,
           |         $ts
           |  FROM ${p}term GROUP BY 1, 2),
           |${p}d AS (SELECT vec_id, s, $chain AS dist FROM ${p}piv),
           |${p}tk AS (SELECT query_id, vec_id FROM (
           |    SELECT query_id, vec_id,
           |           row_number() OVER (PARTITION BY query_id ORDER BY adc_score DESC, vec_id) AS rn
           |    FROM ${p}adc) WHERE rn <= 5),
           |${p}row AS (
           |  SELECT $m AS m, $m AS code_bytes, nv.n AS n_vectors,
           |         round(CAST((SELECT sum(CAST(dist AS DECIMAL(20,12))) FROM ${p}d) AS DOUBLE) / nv.n, 8) AS mean_sq_err,
           |         (SELECT count(*) FROM ${p}tk JOIN ex USING (query_id, vec_id)) AS n_hits,
           |         (SELECT count(*) FROM ex) AS n_exact,
           |         round(CAST((SELECT count(*) FROM ${p}tk JOIN ex USING (query_id, vec_id)) AS DOUBLE) /
           |               (SELECT count(*) FROM ex), 4) AS recall
           |  FROM nv)""".stripMargin
      }.mkString(",\n")
      val unions = PqCurveGrid.map(m => s"SELECT * FROM m${m}row").mkString("\nUNION ALL ")
      s"""WITH $legs,
         |nv AS (SELECT count(*) AS n FROM embeddings),
         |exq AS (SELECT vec_id AS query_id, embedding AS query_emb FROM embeddings WHERE vec_id < 5),
         |ex AS (SELECT query_id, vec_id FROM (
         |    SELECT q.query_id, e.vec_id,
         |           row_number() OVER (PARTITION BY q.query_id ORDER BY
         |             round(list_cosine_similarity(e.embedding::DOUBLE[], q.query_emb::DOUBLE[]), 4) DESC,
         |             e.vec_id) AS rn
         |    FROM embeddings e, exq q WHERE e.vec_id <> q.query_id) WHERE rn <= 5),
         |$perM
         |$unions
         |ORDER BY m""".stripMargin
    },
    // the code table's healthy expectation: volume = the corpus, every
    // violation leg zero — the audit needs no SQL re-derivation of the
    // codes because health is pinned, and any corruption fails the hash
    "ann_codes_audit" ->
      s"""SELECT (SELECT CAST(count(*) AS BIGINT) FROM embeddings) AS n_codes,
         |       CAST(0 AS BIGINT) AS n_multi,
         |       CAST(0 AS BIGINT) AS n_missing,
         |       CAST(0 AS BIGINT) AS n_orphans,
         |       CAST(0 AS BIGINT) AS n_len_bad,
         |       (SELECT CAST(least(count(*), $SampleN) AS BIGINT) FROM embeddings) AS sample_n,
         |       CAST(0 AS BIGINT) AS n_code_mismatch""".stripMargin,
    // the hive-partitioned serving layout: volume + the learned
    // occupied-list count from the kmeans mirror, violations pinned zero
    "ann_ivfpq_layout_audit" ->
      s"""WITH ${Ivf.kmeansCte()}
         |SELECT (SELECT CAST(count(*) AS BIGINT) FROM embeddings) AS n_rows,
         |       (SELECT CAST(count(DISTINCT list_id) AS BIGINT) FROM lists) AS n_lists,
         |       CAST(0 AS BIGINT) AS n_multi,
         |       CAST(0 AS BIGINT) AS n_missing,
         |       CAST(0 AS BIGINT) AS n_orphans,
         |       CAST(0 AS BIGINT) AS n_len_bad,
         |       (SELECT CAST(least(count(*), $SampleN) AS BIGINT) FROM embeddings) AS sample_n,
         |       CAST(0 AS BIGINT) AS n_misassigned,
         |       CAST(0 AS BIGINT) AS n_code_mismatch""".stripMargin,
    "ann_pq_search" -> pqSearchOracleSql,
    // the served form scans stored codes but MUST return the same rows
    "ann_pq_search_served" -> pqSearchOracleSql,
    // IVFADC: same learned lists (Ivf.kmeansCte) restrict the ADC
    // ranking to each query's nProbe probed lists
    "ann_ivfpq_search" -> ivfPqSearchOracleSql,
    // the served layout must return the same rows
    "ann_ivfpq_search_served" -> ivfPqSearchOracleSql,
  )

  private lazy val ivfPqSearchOracleSql: String =
      s"""WITH ${Ivf.kmeansCte()},
         |${pqCte()},
         |iprobes AS (
         |  SELECT vec_id AS query_id, CAST(c AS INT) AS list_id FROM (
         |    SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, c ASC) AS rn
         |    FROM fsc WHERE vec_id < 5) WHERE rn <= ${Ivf.NProbe}),
         |probed AS (
         |  SELECT a.query_id, a.vec_id, l.list_id, a.adc_score
         |  FROM adc a JOIN lists l ON l.vec_id = a.vec_id
         |  JOIN iprobes p ON p.query_id = a.query_id AND p.list_id = l.list_id)
         |SELECT query_id, vec_id, list_id, adc_score, rn FROM (
         |  SELECT query_id, vec_id, list_id, adc_score,
         |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY adc_score DESC, vec_id) AS INT) AS rn
         |  FROM probed) WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin
}

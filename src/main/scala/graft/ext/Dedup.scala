package graft.ext

import graft.Tables
import graft.functions.TextFns
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents` / `embeddings` (SURVEY §2.11):
  * exact (hash groupBy), MinHash+LSH (shingle→minhash→band→bucket join),
  * SimHash, n-gram Jaccard, and embedding-cosine near-dup.
  *
  * Scale design: every variant is candidate-generation-by-key (hash
  * bucket / LSH band / block) followed by verification INSIDE buckets, so
  * the only shuffles are groupBys on bucket keys and the pairwise work is
  * bounded by bucket size — never all-pairs over the corpus. At 100 TB
  * the band/bucket cardinality keeps partitions balanced; skewed buckets
  * (a viral duplicate cluster) are handled by AQE skew splitting.
  */
object Dedup {

  // --- exact ---------------------------------------------------------------

  /** Exact dedup via content hash: one shuffle on md5(text); the kept row
    * is min(doc_id) per group (deterministic representative).
    */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select("doc_id", "n_copies", "content_hash")
      .orderBy("doc_id")

  // --- MinHash + LSH -------------------------------------------------------

  val NumHashes = 128
  val Bands = 32 // rows per band r = 4; catch-probability at j: 1-(1-j^4)^32

  /** Per-document MinHash signatures via the native
    * [[graft.functions.MinHashSignature]] expression: the whole 128-long
    * signature comes out of one compiled pass over the text bytes — no
    * shingle arrays, no explode, no shuffle. (Two slower formulations
    * were measured first: nested higher-order functions run interpreted
    * and re-evaluate base hashes per family; the relational
    * explode+groupBy form shuffles S×docs rows and still pays the
    * per-shingle string materialization.)
    */
  def minhashSignatures(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.SketchFns.minhashSignature(col("text"), 3, NumHashes).as("sig"))

  /** LSH band table: (doc_id, band_idx, band_hash). Banding carries ONLY
    * (doc_id, band) through the shuffle — the wide shingle arrays stay
    * out of the bucket join and are re-attached just for the (few)
    * candidates afterwards. At corpus scale this is the difference
    * between shuffling ids and shuffling the corpus 32x.
    */
  def bandTable(docs: DataFrame): DataFrame = {
    val r = NumHashes / Bands
    minhashSignatures(docs).select(
      col("doc_id"),
      posexplode(transform(
        sequence(lit(0), lit(Bands - 1)),
        b => hash(slice(col("sig"), b * r + 1, lit(r))))).as(Seq("band_idx", "band_hash")))
  }

  /** Sorted-hash shingle sets for exact verification: (doc_id, hs). */
  def shingleTable(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.SketchFns.shingleHashSet(col("text"), 3).as("hs"))

  /** Exact word-3-gram jaccard verification of candidate pairs: one
    * merge walk per candidate, shingle sets joined only for candidates.
    */
  def verifyPairs(
      candidates: DataFrame, shingles: DataFrame, threshold: Double): DataFrame = {
    import graft.functions.SketchFns
    val shA = shingles.select(col("doc_id").as("doc_a"), col("hs").as("hs_a"))
    val shB = shingles.select(col("doc_id").as("doc_b"), col("hs").as("hs_b"))
    candidates
      .join(shA, "doc_a").join(shB, "doc_b")
      .withColumn("jaccard", SketchFns.jaccardSorted(col("hs_a"), col("hs_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** Banded candidate pairs + exact word-3-gram Jaccard verification.
    * LSH recall at the 0.8 threshold with r=4,b=32 is 1-(1-0.8^4)^32
    * ≈ 1-2e-7 — the oracle computes exact all-pairs truth and the two
    * agree because the planted near-dups sit at j≥0.97.
    */
  def dedupMinhash(spark: SparkSession, dir: String, threshold: Double = 0.8): DataFrame =
    minhashPairsDf(Tables.documents(spark, dir), threshold)

  /** [[dedupMinhash]]'s df-level core — consumed directly by the ingest
    * corpus-build monitor ([[graft.streaming.Streaming.qStreamCorpusBuild]]).
    */
  def minhashPairsDf(docs: DataFrame, threshold: Double = 0.8): DataFrame = {
    val banded = bandTable(docs)
    val a = banded.select(col("band_idx"), col("band_hash"), col("doc_id").as("doc_a"))
    val b = banded.select(col("band_idx").as("band_idx_b"), col("band_hash").as("band_hash_b"),
      col("doc_id").as("doc_b"))
    val candidates = a.join(b,
        col("band_idx") === col("band_idx_b") &&
          col("band_hash") === col("band_hash_b") &&
          col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
    verifyPairs(candidates, shingleTable(docs), threshold)
  }

  /** Pairwise SOURCE-level shingle overlap, estimated by MinHash — the
    * corpus-composition diagnostic a mixture designer reads before
    * setting weights (two crawls with high estimated Jaccard are
    * near-redundant; down-weight one). A source's signature component i
    * is min over its documents' component i (min distributes over set
    * union, so the doc-level sketches COMPOSE into the source-level
    * sketch of the unioned shingle set — no second corpus pass). Scale
    * shape: the expensive part is the same one-pass compiled sketch as
    * [[minhashSignatures]]; everything after operates on n_sources x k
    * rows — posexplode feeds a (source, i) groupBy with map-side
    * partial mins, and the pairwise comparison is a tiny self-join on
    * the component index. The estimate is an integer fraction of k, so
    * the double is bit-identical across engines.
    */
  def corpusOverlap(spark: SparkSession, dir: String, k: Int = OverlapHashes): DataFrame = {
    val sigs = Tables.documents(spark, dir)
      .select(col("source"),
        graft.functions.SketchFns.minhashSignature(col("text"), 3, k).as("sig"))
      .select(col("source"), posexplode(col("sig")).as(Seq("i", "v")))
      .groupBy(col("source"), col("i")).agg(min(col("v")).as("v"))
    val a = sigs.select(col("source").as("src_a"), col("i"), col("v").as("va"))
    val b = sigs.select(col("source").as("src_b"), col("i").as("ib"), col("v").as("vb"))
    a.join(b, col("i") === col("ib") && col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg((sum(when(col("va") === col("vb"), 1).otherwise(0)).cast("double") / k)
        .as("est_jaccard"))
      .orderBy("src_a", "src_b")
  }

  val OverlapHashes = 32

  // --- incremental MinHash index --------------------------------------------

  /** Initializes a persistent near-dup index from a document batch: the
    * band table and shingle sets are published as the two stores under
    * `indexPath`.
    */
  def indexInit(docs: DataFrame, indexPath: String): Unit = {
    val spark = docs.sparkSession
    graft.ops.Publish.publish(spark, s"$indexPath/bands", bandTable(docs))
    graft.ops.Publish.publish(spark, s"$indexPath/shingles", shingleTable(docs))
  }

  /** Incremental near-dup detection — the daily-cadence shape at 100 TB:
    * sketching cost is proportional to the NEW batch only, never the
    * accumulated corpus. The new batch's bands probe the index (plus the
    * batch itself, for new-new pairs), candidates verify against stored
    * shingle sets, and the batch's sketches append to the index. Every
    * emitted pair has at least one endpoint in the new batch by
    * construction (historical pairs were emitted by earlier runs), so a
    * batch is processed exactly once and the union over runs equals the
    * full-corpus [[dedupMinhash]] (ExtSpec asserts this equivalence).
    */
  def indexIncremental(
      newDocs: DataFrame, indexPath: String, threshold: Double = 0.8,
      compactTrigger: Int = CompactTriggerFiles,
      appendToken: String = ""): DataFrame = {
    val spark = newDocs.sparkSession
    val newBands = bandTable(newDocs).localCheckpoint()
    val newShingles = shingleTable(newDocs).localCheckpoint()
    val pairs = probeFrom(newBands, newShingles, indexPath, threshold).localCheckpoint()

    // delta-directory appends (graft.ops.StoreIO): never into the live
    // version a maintenance publish may be replacing — an append racing a
    // repair/delete/compaction survives in the delta and stays visible.
    // `appendToken` is the replay idempotence key: a redelivered batch
    // passing its batch id overwrites its own child instead of
    // double-appending sketches (the streaming runners pass it).
    // Compaction runs BEFORE the append, so this batch's child is never
    // folded in the same call: a foreachBatch retry that replays the
    // batch then overwrites a still-standing child; a replay arriving
    // after a LATER call's fold retired the child is a no-op via
    // StoreIO's retired-token registry, and a crash INSIDE a fold
    // (between its publish and its child retirement) is settled by
    // StoreIO.recoverFolds — the committed sidecar names exactly the
    // children to retire, so the fold can never persist rows twice.
    maybeCompact(spark, indexPath, compactTrigger)
    if (!newBands.isEmpty) {
      graft.ops.StoreIO.append(newBands, s"$indexPath/bands", appendToken)
      graft.ops.StoreIO.append(newShingles, s"$indexPath/shingles", appendToken)
    }
    pairs
  }

  /** Read-only probe of the index — the QUERY half of the incremental
    * pipeline (no appends, no parquet writes), so benchmark timings of
    * the driver entry measure query work, not ingest. Emits the same
    * pairs as [[indexIncremental]] on the same inputs.
    */
  def indexProbe(
      newDocs: DataFrame, indexPath: String, threshold: Double = 0.8): DataFrame = {
    val newBands = bandTable(newDocs).localCheckpoint()
    val newShingles = shingleTable(newDocs).localCheckpoint()
    probeFrom(newBands, newShingles, indexPath, threshold)
  }

  private[graft] val BandsDdl = "doc_id BIGINT, band_idx INT, band_hash INT"
  private[graft] val ShinglesDdl = "doc_id BIGINT, hs ARRAY<BIGINT>"

  private def probeFrom(
      newBands: DataFrame, newShingles: DataFrame, indexPath: String,
      threshold: Double): DataFrame = {
    val spark = newBands.sparkSession
    val allBands = graft.ops.StoreIO
      .read(spark, s"$indexPath/bands", Some(BandsDdl)).unionByName(newBands)
    val allShingles = graft.ops.StoreIO
      .read(spark, s"$indexPath/shingles", Some(ShinglesDdl)).unionByName(newShingles)

    val probe = newBands.select(col("band_idx"), col("band_hash"), col("doc_id").as("doc_n"))
    val build = allBands.select(col("band_idx").as("bi"), col("band_hash").as("bh"),
      col("doc_id").as("doc_o"))
    val candidates = probe.join(build,
        col("band_idx") === col("bi") && col("band_hash") === col("bh") &&
          col("doc_n") =!= col("doc_o"))
      .select(least(col("doc_n"), col("doc_o")).as("doc_a"),
        greatest(col("doc_n"), col("doc_o")).as("doc_b"))
      .distinct()
    verifyPairs(candidates, allShingles, threshold)
  }

  /** Daily appends accrete one small file per task per batch; past the
    * trigger the FILE COUNT, not the data volume, dominates listing and
    * scan startup, so the index dirs are rewritten through
    * a [[graft.ops.StoreIO]] fold (one pointer-committed publish).
    */
  val CompactTriggerFiles = 64

  private def maybeCompact(spark: SparkSession, indexPath: String, trigger: Int): Unit = {
    compactIfFragmented(spark, s"$indexPath/bands", trigger, Some(BandsDdl))
    compactIfFragmented(spark, s"$indexPath/shingles", trigger, Some(ShinglesDdl))
  }

  /** Folds the delta children into the live dir and compacts when the
    * LISTING cost (live part files + delta children) crosses the
    * trigger — the snapshot-rewrite, so appends racing the fold
    * survive (graft.ops.StoreIO's contract).
    */
  private def compactIfFragmented(spark: SparkSession, dir: String, trigger: Int,
      ddl: Option[String]): Unit =
    if (graft.ops.StoreIO.fragmentCount(spark, dir) > trigger) {
      // the Scale.compact byte target, over live + delta together
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def bytes(p: String): Long = {
        val hp = new org.apache.hadoop.fs.Path(p)
        if (fs.exists(hp)) fs.getContentSummary(hp).getLength else 0L
      }
      val total = bytes(dir) + bytes(graft.ops.StoreIO.deltaDirOf(dir))
      val nFiles = math.max(1, math.ceil(total.toDouble / (128L << 20)).toInt)
      // OPPORTUNISTIC fold: when a maintenance actor holds the store's
      // lease, skip — hygiene can always wait, and an appender must
      // never fail its batch over a busy compaction slot
      graft.ops.Lease.tryWithLeases(spark, Seq(dir)) {
        graft.ops.StoreIO.rewrite(spark, dir, _.repartition(nFiles), ddl)
      }
      ()
    }

  /** Historical-index cache for the driver entry: built once per
    * (JVM, corpus dir) — index construction is INGEST cost, amortized
    * over every later batch, so the timed query below is the probe
    * pipeline alone. [[graft.Bench]] pre-builds this untimed.
    */
  def ensureIncrementalIndex(spark: SparkSession, dir: String): String =
    graft.ops.Scratch.fixture("minhash_index", dir) { fixtureDir =>
      val docs = Tables.documents(spark, dir)
      val idx = fixtureDir.toString
      indexInit(docs.filter(col("doc_id") < 250), idx)
      idx
    }

  /** Driver-contract entry for the incremental path: docs with id < 250
    * are yesterday's indexed corpus, the rest arrive as today's batch and
    * probe it read-only. Deterministic and idempotent (the probe never
    * mutates the index); the result is every near-dup pair with at least
    * one endpoint in the new batch.
    */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val idx = ensureIncrementalIndex(spark, dir)
    indexProbe(docs.filter(col("doc_id") >= 250), idx)
  }

  // --- verified-pair ARTIFACT ------------------------------------------------
  //
  // The round-13 verdict's top item: every derived graph/report query
  // (clusters, survivors, pagerank, k-core, triangles, delete impact,
  // policy gap, split leakage, cluster-safe splits, the corpus-build
  // funnel) consumes ONLY the verified pair table — yet each used to
  // re-run the full MinHash pipeline (shingle + band + verify, the most
  // expensive recurring computation in the engine) per report. At 100 TB
  // that is re-shingling the corpus once per derived report per day.
  //
  // The fix is an operational artifact: the pair table persists as
  // parquet once (ingest cost), the derived family READS it, and the
  // incremental/streaming ingest paths MAINTAIN it by appending exactly
  // their probe output — sound because [[indexIncremental]] emits every
  // pair exactly once, when its later endpoint arrives, so the union of
  // appended deltas equals the full-corpus [[dedupMinhash]] regardless
  // of batch boundaries (ExtSpec asserts artifact ≡ recompute row for
  // row, and init-on-prefix + append-deltas ≡ full rebuild). Derived
  // reports drop from corpus-scan cost to pair-table cost — the x100
  // measurements in BENCH_SCALE.md quantify the drop.

  /** Full (re)build of the pair artifact from a document corpus —
    * the bootstrap writer (and the from-scratch rebuild a delete apply
    * is spec'd against). `path` is the parquet directory itself.
    */
  def pairsArtifactInit(docs: DataFrame, path: String): Unit =
    graft.ops.Publish.publish(docs.sparkSession, path, minhashPairsDf(docs))

  /** Appends a probe delta (e.g. [[indexIncremental]]'s output for an
    * arriving batch) to the artifact, with the same file-count
    * compaction hygiene as the sketch index: daily appends accrete one
    * small file per task per batch, and past the trigger listing cost
    * dominates the (pair-sized) data. The append lands in the delta
    * directory ([[graft.ops.StoreIO]]), never the live version a
    * maintenance publish may be replacing; `token` is the replay
    * idempotence key (pass the batch id from an at-least-once runner).
    */
  def pairsArtifactAppend(pairs: DataFrame, path: String,
      compactTrigger: Int = CompactTriggerFiles, token: String = ""): Unit = {
    // compact BEFORE the append (the indexIncremental order): this
    // call's child is never folded by its own compaction, so the common
    // retry replays against a still-standing child and overwrites it;
    // a retry that arrives AFTER some later call's fold retired the
    // child is a no-op via StoreIO's retired-token registry — either
    // way the batch's rows exist exactly once in live ∪ delta
    compactIfFragmented(pairs.sparkSession, path, compactTrigger,
      Some(PairsDdl))
    graft.ops.StoreIO.append(
      pairs.select(col("doc_a"), col("doc_b"), col("jaccard")), path, token)
  }

  /** The artifact-reading form every derived query consumes: a plain
    * parquet scan of (doc_a, doc_b, jaccard) — column-pruned and
    * filter-pushed like any other source, never a recompute. The schema
    * is pinned explicitly so a freshly-bootstrapped EMPTY artifact (a
    * zero-pair corpus prefix writes no part files) still reads as an
    * empty frame instead of failing inference; a MISSING directory
    * (a vanished store — the state [[runMaintenance]] routes to
    * rebuild) also reads as empty rather than throwing, so the audits
    * can observe the loss instead of crashing on it. The view is
    * live ∪ delta ([[graft.ops.StoreIO]]), so in-flight appends are
    * visible immediately without a fold.
    */
  def pairsArtifactRead(spark: SparkSession, path: String): DataFrame =
    graft.ops.StoreIO.read(spark, path, Some(PairsDdl))

  private[graft] val PairsDdl = "doc_a BIGINT, doc_b BIGINT, jaccard DOUBLE"

  /** Per-(JVM, corpus) artifact cache for the driver entries: built once
    * on first use (ingest cost, amortized over every derived report —
    * the [[ensureIncrementalIndex]] discipline; [[graft.Bench]]
    * pre-builds it untimed so timed derived queries measure their own
    * work, which IS the operational reading: the artifact is maintained
    * by ingest, not rebuilt per report).
    */
  def ensurePairsArtifact(spark: SparkSession, dir: String): String =
    graft.ops.Scratch.fixture("pairs_artifact", dir) { fixtureDir =>
      val docs = Tables.documents(spark, dir)
      val p = fixtureDir.resolve("pairs").toString
      pairsArtifactInit(docs, p)
      p
    }

  /** The verified near-dup pair table for `dir`, served FROM the
    * artifact — drop-in for [[dedupMinhash]] at every derived-query
    * callsite (identical rows; ExtSpec pins the equality).
    */
  def verifiedPairs(spark: SparkSession, dir: String): DataFrame =
    pairsArtifactRead(spark, ensurePairsArtifact(spark, dir))

  /** ARTIFACT AUDIT — the check an operator runs before trusting
    * maintained state: at 100 TB the pair artifact cannot be validated
    * by recompute, but it CAN be sample-audited. Pairs are recomputed
    * exactly within the fixed splitmix64 hash sample (the sampled-sweep
    * draw) and compared against the artifact restricted to
    * sample-internal endpoints — sound because pair emission is
    * pairwise (a pair's existence depends only on its own two
    * documents), so a HEALTHY artifact's sample-internal slice equals
    * the sample recompute exactly. `sample` is the document sample
    * ([[Audit.docSample]]; the corpus itself for a full recompute).
    * One row: sample size, both pair counts, and the missing/extra
    * drift ([[Audit.keyedAuditDf]] on the pair key, with the recompute
    * as the truth set; 0/0 when healthy — which is
    * what the DuckDB oracle pins, so any artifact corruption or
    * staleness fails the hash gate). Cost is sample²-bounded plus one
    * artifact scan with broadcast-semi endpoint filters — constant in
    * corpus size except the sample draw, the sampled-sweep shape.
    */
  def artifactAuditDf(sample: DataFrame, artifact: DataFrame): DataFrame = {
    val ids = sample.select(col("doc_id"))
    val inArtifact = artifact
      .join(broadcast(ids.withColumnRenamed("doc_id", "doc_a")),
        Seq("doc_a"), "left_semi")
      .join(broadcast(ids.withColumnRenamed("doc_id", "doc_b")),
        Seq("doc_b"), "left_semi")
    sample.agg(count(lit(1)).as("n_sample_docs"))
      .crossJoin(Audit.keyedAuditDf(Seq("doc_a", "doc_b"),
        minhashPairsDf(sample), inArtifact.select(col("doc_a"), col("doc_b"))))
      .select(col("n_sample_docs"), col("n_store").as("n_artifact_pairs"),
        col("n_truth").as("n_recomputed_pairs"), col("n_missing"),
        col("n_orphans").as("n_extra"))
  }

  def dedupArtifactAudit(spark: SparkSession, dir: String): DataFrame =
    artifactAuditDf(Audit.docSample(Tables.documents(spark, dir)),
      verifiedPairs(spark, dir))

  /** HASH-STORE AUDIT — the content-hash delta store member of the
    * store-audit family (pairs: [[artifactAuditDf]]; pack manifest:
    * [[graft.ext.Packing.manifestAuditDf]]). The store is the
    * corpus-build stream's exact-dup state: one (h, doc_id) row per
    * ingested document, hive-partitioned by arrival batch
    * ([[graft.streaming.Streaming.runDeleteApply]]'s third store). Its
    * health facts, from one [[Audit.keyedAuditDf]] pass on doc_id plus
    * the batch spread:
    *
    *   - `n_store` / `n_batches`: volume and batch spread;
    *   - `n_multi`: doc_ids present in MORE than one row — an
    *     at-least-once replay that the idempotent append failed to
    *     swallow;
    *   - `n_missing` / `n_orphans`: coverage vs the corpus — a missed
    *     batch / a delete apply that skipped this store;
    *   - `n_hash_mismatch`: md5 recomputed on the fixed splitmix64
    *     hash sample vs the stored h — sound because a row's hash
    *     depends only on its own document (the pairwise-local audit
    *     argument), so a healthy store's sample slice matches exactly.
    *
    * Healthy = all-zero violation counts; the oracle pins the zeros, so
    * corruption, staleness, or replay duplication fails the hash gate.
    */
  def hashStoreAuditDf(docs: DataFrame, store: DataFrame,
      sample: DataFrame): DataFrame =
    Audit.keyedAuditDf(Seq("doc_id"), docs, store.select(col("h"), col("doc_id")),
      Some(sample.select(col("doc_id"), md5(col("text").cast("binary")).as("h_re"))),
      Seq("n_hash_mismatch" -> (col("h").isNull || col("h") =!= col("h_re"))))
      .crossJoin(store.agg(countDistinct(col("batch")).as("n_batches")))
      .select(col("n_store"), col("n_batches"), col("n_multi"),
        col("n_missing"), col("n_orphans"), col("sample_n"),
        col("n_hash_mismatch"))

  /** Per-(JVM, corpus) staged content-hash store: the per-doc schema
    * the stream maintains, three deterministic arrival batches
    * (doc_id mod 3 — the rule the oracle mirrors for `n_batches`).
    * Ingest cost; Bench pre-builds it untimed.
    */
  def ensureHashStore(spark: SparkSession, dir: String): String =
    graft.ops.Scratch.fixture("hash_store", dir) { fixtureDir =>
      val docs = Tables.documents(spark, dir)
      val p = fixtureDir.resolve("hashes").toString
      graft.ops.Publish.publish(spark, p, docs
        .select(md5(col("text").cast("binary")).as("h"), col("doc_id"),
          (col("doc_id") % 3).as("batch")), partitionBy = Seq("batch"))
      p
    }

  def qHashStoreAudit(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    hashStoreAuditDf(docs,
      graft.ops.Publish.readLive(spark, ensureHashStore(spark, dir)),
      Audit.docSample(docs))
  }

  /** SKETCH-INDEX AUDIT — the oldest maintained store in the engine
    * ([[indexInit]] bootstraps it, [[indexIncremental]] and the
    * streaming runners append to it, [[deleteApply]] rewrites it) was
    * also the last without an audit: replay-duplicated sketches,
    * dropped batches, or band rot were invisible until they corrupted
    * pair emission. Two [[Audit.keyedAuditDf]] passes: one on doc_id
    * (the shingle table, with the band rows counted per doc alongside)
    * and one on the band table's own key (doc_id, band_idx):
    *
    *   - `n_band_rows` / `n_shingle_rows`: volume (a healthy index has
    *     exactly [[Bands]] band rows and one shingle row per doc);
    *   - `n_band_dups` / `n_shingle_multi`: replayed appends the token
    *     idempotence failed to swallow (keys of the stores' own key
    *     holding more than one row);
    *   - `n_missing` / `n_orphans`: coverage vs the corpus (on the
    *     shingle table, the per-doc membership);
    *   - `n_band_incomplete`: corpus docs with a WRONG band count — a
    *     torn multi-file append;
    *   - `n_band_mismatch` / `n_shingle_mismatch`: sketches re-derived
    *     on the fixed splitmix64 hash sample vs the stored rows —
    *     sound because a doc's sketch depends only on its own text
    *     (the pairwise-local audit argument), counted once per key
    *     (the per-key aggregate discipline).
    *
    * Healthy = all-zero violations, oracle-pinned; any index rot,
    * replay, or staleness fails the hash gate.
    */
  def indexAuditDf(docs: DataFrame, bands: DataFrame, shingles: DataFrame,
      sample: DataFrame): DataFrame = {
    val b = bands.select(col("doc_id"), col("band_idx"), col("band_hash"))
    val reBands = bandTable(sample)
      .select(col("doc_id"), col("band_idx"), col("band_hash").as("bh_re"))
    // the second key: band rows are unique per (doc_id, band_idx)
    val bandLeg = Audit.keyedAuditDf(Seq("doc_id", "band_idx"), reBands, b,
        Some(reBands), Seq("n_band_mismatch" ->
          (col("band_hash").isNull || col("band_hash") =!= col("bh_re"))))
      .select(col("n_store").as("n_band_rows"), col("n_multi").as("n_band_dups"),
        col("n_band_mismatch"))
    Audit.keyedAuditDf(Seq("doc_id"), docs, shingles.select(col("doc_id"), col("hs")),
        Some(shingleTable(sample).select(col("doc_id"), col("hs").as("hs_re"))),
        Seq("n_shingle_mismatch" -> (col("hs").isNull || col("hs") =!= col("hs_re"))),
        sides = Seq("n_b" -> b),
        keyAggs = Seq(Audit.sum0(when(col("n_t") > 0 && col("n_b") =!= Bands,
          col("n_t"))).as("n_band_incomplete")))
      .crossJoin(bandLeg)
      .select(col("n_band_rows"), col("n_store").as("n_shingle_rows"),
        col("n_band_dups"), col("n_multi").as("n_shingle_multi"),
        col("n_missing"), col("n_orphans"), col("n_band_incomplete"),
        col("sample_n"), col("n_band_mismatch"), col("n_shingle_mismatch"))
  }

  /** Per-(JVM, corpus) FULL-corpus staged index (the maintained
    * artifact the audit entry reads — [[ensureIncrementalIndex]] is the
    * deliberately-partial probe fixture, not an auditable store).
    * Ingest cost; Bench pre-builds it untimed.
    */
  def ensureFullIndex(spark: SparkSession, dir: String): String =
    graft.ops.Scratch.fixture("minhash_full_index", dir) { fixtureDir =>
      val docs = Tables.documents(spark, dir)
      val idx = fixtureDir.toString
      indexInit(docs, idx)
      idx
    }

  def dedupIndexAudit(spark: SparkSession, dir: String): DataFrame = {
    val idx = ensureFullIndex(spark, dir)
    val docs = Tables.documents(spark, dir)
    indexAuditDf(docs,
      graft.ops.StoreIO.read(spark, s"$idx/bands", Some(BandsDdl)),
      graft.ops.StoreIO.read(spark, s"$idx/shingles", Some(ShinglesDdl)),
      Audit.docSample(docs))
  }

  /** CROSS-STORE CONSISTENCY — the check that completes the audit
    * family: each store audits healthy in isolation
    * ([[artifactAuditDf]] / [[hashStoreAuditDf]] /
    * [[graft.ext.Packing.manifestAuditDf]]), but the three are
    * maintained by DIFFERENT code paths (stream appends, backfills,
    * [[deleteApply]] rewrites) and drift independently — a delete apply
    * that crashed between store rewrites leaves every store
    * individually plausible and mutually wrong. All three are keyed by
    * doc_id, so consistency is one [[Audit.keyedAuditDf]] pass over
    * store-sized frames — the hash registry as the truth set, the
    * manifest as the store, the pair endpoints counted alongside (the
    * corpus is never read):
    *
    *   - `n_manifest_not_hash` / `n_hash_not_manifest`: the pack
    *     manifest and the content-hash registry must cover the same
    *     documents (both are written per ingested doc);
    *   - `n_pair_endpoints_unregistered`: every verified-pair endpoint
    *     must be a registered document (a retraction that rewrote the
    *     hash store but not the pair artifact shows here; counted per
    *     distinct endpoint).
    *
    * Healthy = all-zero, oracle-pinned; ExtSpec stages a partial
    * delete apply and asserts the drift is reported exactly.
    */
  def storeConsistencyDf(hashes: DataFrame, manifest: DataFrame,
      pairs: DataFrame): DataFrame = {
    val endpoints = pairs.select(col("doc_a").as("doc_id"))
      .unionByName(pairs.select(col("doc_b").as("doc_id")))
    Audit.keyedAuditDf(Seq("doc_id"), hashes, manifest.select(col("doc_id")),
        sides = Seq("n_ep" -> endpoints),
        keyAggs = Seq(count(when(col("n_ep") > 0 && col("n_t") === 0, 1))
          .as("n_pair_endpoints_unregistered")))
      .crossJoin(pairs.agg(count(lit(1)).as("n_pairs")))
      .select(col("n_truth").as("n_hash"), col("n_store").as("n_manifest"),
        col("n_pairs"), col("n_orphans").as("n_manifest_not_hash"),
        col("n_missing").as("n_hash_not_manifest"),
        col("n_pair_endpoints_unregistered"))
  }

  def qStoreConsistency(spark: SparkSession, dir: String): DataFrame =
    storeConsistencyDf(
      graft.ops.Publish.readLive(spark, ensureHashStore(spark, dir)),
      graft.ops.Publish.readLive(spark, graft.ext.Packing.ensureManifest(spark, dir)),
      verifiedPairs(spark, dir))

  // --- store REPAIR -----------------------------------------------------------
  //
  // The audit family DETECTS state damage ([[hashStoreAuditDf]] replay
  // duplicates, [[storeConsistencyDf]] cross-store drift); this REPAIRS
  // the store-local classes without touching the corpus:
  //
  //   - replay duplicates (an at-least-once append the idempotence
  //     guard failed to swallow): collapse to ONE deterministic winner
  //     per key — min (batch, h) per doc_id in the hash store, min
  //     payload per doc_id in the manifest, max jaccard per (doc_a,
  //     doc_b) in the pair artifact;
  //   - membership drift (a [[deleteApply]] that crashed between store
  //     rewrites): DELETE-DOMINANCE roll-forward — the stores' only
  //     remover is a takedown, so a doc_id absent from EITHER
  //     membership store (hash registry / pack manifest) is an
  //     in-flight delete, and repair completes it everywhere. Even when
  //     the asymmetry was really a lost append, removal is still the
  //     safe direction: re-ingest of a dropped doc is an idempotent
  //     append, while a half-applied takedown is a compliance
  //     violation;
  //   - orphan pairs: after membership settles, pairs with an
  //     unregistered endpoint are dropped (the pair's own endpoints are
  //     its whole dependency — the pairwise-local argument).
  //
  // Out of scope, deliberately: bit rot (`n_hash_mismatch` in the
  // audit) needs the document text to fix — that is a re-ingest
  // ([[graft.ext.Backfill]] discipline), not a store-local repair.
  //
  // 100 TB shape: every leg is store-sized — groupBys on the stores'
  // own keys, two distinct-id sets, anti/semi joins on doc_id. The
  // corpus is never read. The manifest is re-packed after removals
  // ([[graft.ext.Packing.repackManifest]] — offsets re-derived from the
  // surviving rows' own token counts), which is a no-op on a healthy
  // manifest, so repair is idempotent: a second run reports all zeros.

  /** One-row repair REPORT over the three maintained stores: what a
    * repair would remove (replay duplicates per store, delete-dominance
    * drift per membership store, orphan pairs) and the post-repair
    * store sizes. Healthy stores report all-zero removals — which is
    * what the DuckDB oracle pins, so the repair plan itself sits under
    * the hash gate. [[storeRepair]] is the writer form; ExtSpec pins
    * report == writer effect on staged corruptions.
    */
  def storeRepairDf(hashes: DataFrame, manifest: DataFrame,
      pairs: DataFrame): DataFrame = {
    val member = hashes.select(col("doc_id")).distinct()
      .join(manifest.select(col("doc_id")), Seq("doc_id"), "left_semi")
      .localCheckpoint()
    val pDistinct = countDistinct(col("doc_a"), col("doc_b"))
    val pKept = pairs.select(col("doc_a"), col("doc_b")).distinct()
      .join(member.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"), "left_semi")
      .join(member.withColumnRenamed("doc_id", "doc_b"), Seq("doc_b"), "left_semi")
      .agg(count(lit(1)).as("n_pairs"))
    // membership per doc_id: the hash registry as truth, the manifest as store
    Audit.keyedAuditDf(Seq("doc_id"), hashes, manifest.select(col("doc_id")),
        keyAggs = Seq(
          Audit.sum0(when(col("n_t") > 0, col("n_t") - 1)).as("n_hash_dups_removed"),
          Audit.sum0(when(col("n_s") > 0, col("n_s") - 1)).as("n_manifest_dups_removed"),
          count(when(col("n_t") > 0 && col("n_s") === 0, 1)).as("n_hash_drift_removed"),
          count(when(col("n_s") > 0 && col("n_t") === 0, 1)).as("n_manifest_drift_removed"),
          count(when(col("n_t") > 0 && col("n_s") > 0, 1)).as("n_member")))
      .crossJoin(pairs.agg((count(lit(1)) - pDistinct).as("n_pair_dups_removed"),
        pDistinct.as("n_pair_distinct")))
      .crossJoin(pKept)
      .select(col("n_hash_dups_removed"), col("n_manifest_dups_removed"),
        col("n_pair_dups_removed"), col("n_hash_drift_removed"),
        col("n_manifest_drift_removed"),
        (col("n_pair_distinct") - col("n_pairs")).as("n_pair_orphans_removed"),
        col("n_member").as("n_hash"), col("n_member").as("n_manifest"),
        col("n_pairs"))
  }

  /** The repaired store contents (hash store, manifest, pairs) under the
    * [[storeRepairDf]] rules — factored so the writer and the specs
    * share one definition of the repair semantics.
    */
  private[graft] def storeRepairFrames(hashes: DataFrame, manifest: DataFrame,
      pairs: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val h1 = hashes.groupBy(col("doc_id"))
      .agg(min(struct(col("batch"), col("h"))).as("w"))
      .select(col("w.h").as("h"), col("doc_id"), col("w.batch").as("batch"))
    val m1 = manifest.groupBy(col("doc_id"))
      .agg(min(struct(col("n_tok"), col("t_off"), col("seq_id"), col("n_seqs")))
        .as("w"))
      .select(col("doc_id"), col("w.n_tok").as("n_tok"))
    val p1 = pairs.groupBy(col("doc_a"), col("doc_b"))
      .agg(max(col("jaccard")).as("jaccard"))
    val member = h1.select(col("doc_id"))
      .join(m1.select(col("doc_id")), Seq("doc_id"), "left_semi")
      .localCheckpoint()
    val h2 = h1.join(member, Seq("doc_id"), "left_semi")
    val m2 = Packing.repackManifest(
      m1.join(member, Seq("doc_id"), "left_semi"))
    val p2 = p1
      .join(member.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"), "left_semi")
      .join(member.withColumnRenamed("doc_id", "doc_b"), Seq("doc_b"), "left_semi")
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    (h2, m2, p2)
  }

  /** WRITER form: repairs the three on-disk stores in place (one
    * [[graft.ops.StoreIO]] fold per store, hive layout preserved for
    * the batch-keyed hash store) and returns
    * the [[storeRepairDf]] report computed over the PRE-repair state.
    * Idempotent: a second run rewrites nothing semantically and reports
    * all-zero removals.
    */
  def storeRepair(spark: SparkSession, hashesRoot: String,
      manifestPath: String, pairsPath: String): DataFrame =
    storeRepairImpl(spark, hashesRoot, manifestPath, pairsPath, () => ())

  /** [[storeRepair]] with the interleave test seam ([[deleteApplyImpl]]
    * discipline): `interleave` runs after the snapshots are pinned and
    * materialized, before the first publish.
    */
  private[graft] def storeRepairImpl(spark: SparkSession, hashesRoot: String,
      manifestPath: String, pairsPath: String,
      interleave: () => Unit): DataFrame =
    // the LEASED span covers snapshot THROUGH publish: a second repair
    // racing this one would derive from the same snapshots and its
    // later publish would silently drop this one's rewrites — it fails
    // loudly instead (graft.ops.Lease, the rewrite-vs-rewrite drill)
    graft.ops.Lease.withLeases(spark,
        Seq(hashesRoot, manifestPath, pairsPath)) {
      import graft.ops.StoreIO
      val hashSnap = StoreIO.snapshot(spark, hashesRoot, Some(HashStoreDdl))
      val manifestSnap = StoreIO.snapshot(spark, manifestPath)
      val pairsSnap = StoreIO.snapshot(spark, pairsPath, Some(PairsDdl))
      val report = storeRepairDf(hashSnap.frame, manifestSnap.frame,
        pairsSnap.frame).localCheckpoint()
      val (h2, m2, p2) = storeRepairFrames(hashSnap.frame,
        manifestSnap.frame, pairsSnap.frame)
      val (h2c, m2c, p2c) = (h2.localCheckpoint(), m2.localCheckpoint(),
        p2.localCheckpoint())
      interleave()
      StoreIO.publishMerged(spark, hashesRoot, h2c, hashSnap,
        partitionBy = Seq("batch"))
      StoreIO.publishMerged(spark, manifestPath, m2c, manifestSnap)
      StoreIO.publishMerged(spark, pairsPath, p2c, pairsSnap)
      report
    }

  def qStoreRepair(spark: SparkSession, dir: String): DataFrame =
    storeRepairDf(
      graft.ops.Publish.readLive(spark, ensureHashStore(spark, dir)),
      graft.ops.Publish.readLive(spark, graft.ext.Packing.ensureManifest(spark, dir)),
      verifiedPairs(spark, dir))

  // --- maintenance PLAN -------------------------------------------------------
  //
  // The DECIDE layer that ties the operate loop together: the audits
  // OBSERVE (the ten store audits, each one [[Audit.keyedAuditDf]]
  // declaration — [[storePlanDf]] lists them),
  // the reports PRICE (`q_delete_impact`, `ann_retrain_delta`,
  // `q_repack_delta`), and the apply operators EXECUTE ([[storeRepair]],
  // [[deleteApply]], [[graft.ext.Ivf.retrainApply]]); this emits what an
  // operator's cron actually consumes — per maintained store, the
  // violation totals split by REMEDY CLASS and the action to schedule:
  //
  //   - `n_structural`: damage fixable from the stores themselves —
  //     replay duplicates, membership drift, offset-chain breaks,
  //     misassignment → `repair` (the three doc stores / cross-store)
  //     or `rebuild`/`reencode` (the serving artifacts, whose repair IS
  //     re-derivation under the live model);
  //   - `n_rot`: damage whose fix needs the SOURCE corpus — rows
  //     missing vs the corpus (a store cannot restore a row from
  //     itself), store rows for documents the corpus no longer has
  //     (orphans: [[storeRepair]] never reads the corpus, so an orphan
  //     present in BOTH membership stores survives every repair — only
  //     the corpus-covering reingest drops it), and stored hashes /
  //     token counts that no longer match their documents → `reingest`
  //     (the [[graft.ext.Backfill]] discipline). The corpus table is
  //     the membership truth: a real takedown removes the document
  //     from the corpus too ([[deleteApply]]'s survivors), so
  //     delete-dominance repair and coverage reingest never fight over
  //     the same document.
  //
  // Healthy stores plan ten `none` rows, which is what the DuckDB
  // oracle pins — a plan that would touch a healthy store fails the
  // hash gate. Cost = the ten audits (one keyed pass per store key
  // over one draw of each hash sample) in one query.

  /** The plan over ten explicit audit rows — factored so the spec can
    * stage corrupted audits and pin the action routing.
    *
    * Priority per store: for the MEMBERSHIP stores (hashes, manifest)
    * rot outranks structural — a coverage gap reads, to the cross-store
    * check, exactly like an interrupted takedown, so scheduling `repair`
    * first would let delete-dominance remove the missing docs' rows from
    * the healthy stores before the reingest restores them (and the
    * corpus-covering reingest subsumes the structural fixes anyway: it
    * re-derives one row per corpus doc, clearing replay duplicates and
    * orphans in the same pass). The serving artifacts route both classes
    * to the same re-derivation, so priority is moot there.
    */
  def maintenancePlanDf(pairsAudit: DataFrame, hashAudit: DataFrame,
      manifestAudit: DataFrame, consistency: DataFrame,
      layoutAudit: DataFrame, codesAudit: DataFrame,
      indexAudit: DataFrame, ivfpqAudit: DataFrame,
      packedAudit: DataFrame, featuresAudit: DataFrame): DataFrame = {
    def rowOf(df: DataFrame, store: String, structural: Column, rot: Column,
        fixAction: String, rotAction: String,
        rotOutranks: Boolean = false): DataFrame = {
      val action =
        if (rotOutranks)
          when(rot > 0, lit(rotAction)).when(structural > 0, lit(fixAction))
            .otherwise(lit("none"))
        else
          when(structural > 0, lit(fixAction)).when(rot > 0, lit(rotAction))
            .otherwise(lit("none"))
      df.select(lit(store).as("store"),
        structural.cast("long").as("n_structural"),
        rot.cast("long").as("n_rot"),
        action.as("action"))
    }
    rowOf(pairsAudit, "pairs",
        col("n_missing") + col("n_extra"), lit(0L), "rebuild", "rebuild")
      .unionByName(rowOf(hashAudit, "hashes",
        col("n_multi"),
        col("n_missing") + col("n_orphans") + col("n_hash_mismatch"),
        "repair", "reingest", rotOutranks = true))
      .unionByName(rowOf(manifestAudit, "manifest",
        col("n_formula_bad") + col("n_adjacency_bad") + col("n_dup_rows"),
        col("n_missing") + col("n_orphans") + col("n_tok_mismatch"),
        "repair", "reingest", rotOutranks = true))
      .unionByName(rowOf(consistency, "xstore",
        col("n_manifest_not_hash") + col("n_hash_not_manifest") +
          col("n_pair_endpoints_unregistered"), lit(0L), "repair", "repair"))
      .unionByName(rowOf(layoutAudit, "layout",
        col("n_multi") + col("n_missing") + col("n_orphans") +
          col("n_misassigned"), col("n_norm_mismatch"), "rebuild", "rebuild"))
      .unionByName(rowOf(codesAudit, "codes",
        col("n_multi") + col("n_missing") + col("n_orphans") + col("n_len_bad"),
        col("n_code_mismatch"), "reencode", "reencode"))
      // r15: the four previously-unaudited maintained artifacts — each
      // a corpus/model re-derivation, so both damage classes route to
      // the store's one remedy; the feature artifact distinguishes a
      // pure coverage gap (the row-granular BACKFILL delta, partition-pruned to the gap sources) from
      // damage needing the full re-derive
      .unionByName(rowOf(indexAudit, "index",
        col("n_band_dups") + col("n_shingle_multi") + col("n_missing") +
          col("n_orphans") + col("n_band_incomplete"),
        col("n_band_mismatch") + col("n_shingle_mismatch"),
        "rebuild", "rebuild"))
      .unionByName(rowOf(ivfpqAudit, "ivfpq",
        col("n_multi") + col("n_missing") + col("n_orphans") +
          col("n_len_bad") + col("n_misassigned"),
        col("n_code_mismatch"), "reencode", "reencode"))
      .unionByName(rowOf(packedAudit, "packed",
        col("n_multi") + col("n_missing") + col("n_orphans") +
          col("n_formula_bad") + col("n_shard_bad"),
        col("n_tok_mismatch"), "repack", "repack"))
      .unionByName(rowOf(featuresAudit, "features",
        col("n_multi") + col("n_orphans") + col("n_feature_mismatch"),
        col("n_missing"), "rebuild", "backfill"))
      .orderBy("store")
  }

  /** The ten store audits over ONE draw of each hash sample (documents,
    * embeddings), routed by [[maintenancePlanDf]]. [[qMaintenancePlan]]
    * and [[runMaintenance]] differ only in how they read the stores.
    */
  def storePlanDf(docs: DataFrame, emb: DataFrame, pairs: DataFrame,
      hashes: DataFrame, manifest: DataFrame, layout: DataFrame,
      codes: DataFrame, bands: DataFrame, shingles: DataFrame,
      ivfpq: DataFrame, packed: DataFrame, features: DataFrame,
      cents: Seq[Seq[Float]], codebooks: Seq[Seq[Seq[Float]]]): DataFrame = {
    val ds = Audit.docSample(docs)
    val es = Audit.vecSample(emb)
    maintenancePlanDf(artifactAuditDf(ds, pairs),
      hashStoreAuditDf(docs, hashes, ds),
      Packing.manifestAuditDf(docs, manifest, ds),
      storeConsistencyDf(hashes, manifest, pairs),
      Ivf.ivfLayoutAuditDf(emb, layout, cents, es),
      Pq.codesAuditDf(emb, codes, codebooks, es),
      indexAuditDf(docs, bands, shingles, ds),
      Pq.ivfPqLayoutAuditDf(emb, ivfpq, cents, codebooks, es),
      Packing.packedAuditDf(docs, packed, ds),
      Backfill.featureAuditDf(docs, features, ds))
  }

  /** EXECUTES a maintenance plan to convergence: compute the plan over
    * the on-disk stores, run each scheduled remedy, re-plan, repeat
    * until every store plans `none` (or `maxRounds`). A store with
    * BOTH damage classes resolves under the plan's per-store priority:
    * the membership stores run the corpus-covering REINGEST first
    * (rot outranks structural there — it also clears replay dups, and
    * repair-first would let delete-dominance eat the missing docs'
    * healthy-store rows), other stores take their single re-derivation
    * remedy; a leftover class falls to the next round.
    * Remedies, all snapshot folds through the one store protocol
    * ([[graft.ops.Publish]] — crashed publishes are settled by a
    * recovery pre-pass, vanished stores read as empty and route to
    * rebuild), with reingest ORDERED BEFORE repair inside a round (a coverage gap
    * looks like an interrupted takedown to the cross-store check;
    * restoring coverage first keeps delete-dominance repair from
    * deleting the healthy stores' rows for the doc being restored):
    *
    *   - `reingest` (coverage gaps, orphans, hash or token-count rot):
    *     payloads recomputed from the source corpus, corpus-covering —
    *     the hash store keeps its arrival batches and restored rows
    *     land in the explicit backfill batch -1; the manifest is
    *     re-packed from re-tokenized counts;
    *   - `repair` (hashes / manifest / cross-store): ONE [[storeRepair]]
    *     pass over the three doc stores;
    *   - `rebuild` (pairs / layout): the artifact re-derived from the
    *     corpus under the live model — the [[pairsArtifactInit]] /
    *     [[graft.ext.Ivf.layoutFrame]] definitions, published atomically;
    *   - `reencode` (codes): one [[graft.ext.Pq.encodeCorpus]] pass.
    *
    * Returns the FINAL plan — all `none` on success (spec-pinned, with
    * idempotence: a second call executes nothing). This is the
    * operate-loop capstone: observe (audits) → decide (plan) → act
    * (this) → re-observe, as a single bounded call.
    */
  def runMaintenance(docs: DataFrame, emb: DataFrame,
      hashesRoot: String, manifestPath: String, pairsPath: String,
      layoutPath: String, cents: Seq[Seq[Float]],
      codebooks: Seq[Seq[Seq[Float]]], codesPath: String,
      indexPath: String, ivfpqPath: String, packedPath: String,
      featuresPath: String, maxRounds: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import graft.ops.StoreIO
    val allStores = Seq(hashesRoot, manifestPath, pairsPath, layoutPath,
      codesPath, s"$indexPath/bands", s"$indexPath/shingles", ivfpqPath,
      packedPath, featuresPath)
    // ONE maintenance actor, enforced: the whole observe→decide→act
    // loop holds every store's lease — a second loop (or any stray
    // rewriter) fails loudly instead of silently losing updates
    graft.ops.Lease.withLeases(spark, allStores) {
    // RECOVERY pre-pass: settle every crashed publish (drop unreferenced
    // versions) and every fold that crashed between its commit and its
    // delta-child retirement (its rows sit in BOTH live and the
    // children — the committed sidecar names the children) before the
    // audits read live ∪ delta, or healthy stores audit as
    // replay-duplicated. A store with no committed version reads as
    // EMPTY below — the audits see a total coverage gap and the plan
    // routes a from-scratch reingest/rebuild instead of throwing.
    allStores.foreach { p =>
      graft.ops.Publish.recover(spark, p)
      StoreIO.recoverFolds(spark, p)
    }
    // every store is read live ∪ delta under its pinned schema, so
    // in-flight appends are audited and a missing store reads as empty
    def read(path: String, ddl: String): DataFrame =
      StoreIO.read(spark, path, Some(ddl))
    def plan(): DataFrame = storePlanDf(docs, emb, read(pairsPath, PairsDdl),
      read(hashesRoot, HashStoreDdl), read(manifestPath, ManifestDdl),
      read(layoutPath, LayoutDdl), read(codesPath, CodesDdl),
      read(s"$indexPath/bands", BandsDdl), read(s"$indexPath/shingles", ShinglesDdl),
      read(ivfpqPath, IvfPqDdl), read(packedPath, PackedDdl),
      read(featuresPath, FeaturesDdl), cents, codebooks)
      .localCheckpoint()
    // every remedy is a snapshot fold (StoreIO.rewrite, reentrant under
    // the loop's lease): a re-derivation from the corpus SUBSUMES the
    // pinned delta children, so they retire with the publish, and
    // appends racing the remedy survive
    def remedy(path: String, ddl: String, partitionBy: Seq[String] = Nil)(
        f: DataFrame => DataFrame): Unit =
      StoreIO.rewrite(spark, path, f, Some(ddl), partitionBy)
    var current = plan()
    var round = 0
    while (round < maxRounds &&
        current.filter(col("action") =!= "none").count() > 0) {
      val act = current.collect()
        .map(r => r.getString(0) -> r.getAs[String]("action")).toMap
      // REINGEST legs run BEFORE repair: a coverage gap in one
      // membership store reads, to the cross-store check, exactly like
      // an interrupted takedown — if delete-dominance repair ran first
      // it would delete the healthy stores' rows for the doc the
      // reingest is about to restore, and the two remedies would undo
      // each other round after round. Restoring coverage first makes
      // the subsequent repair a no-op on those docs (the corpus is the
      // membership truth).
      if (act("hashes") == "reingest")
        // corpus-covering: payloads recomputed from source for EVERY
        // corpus doc; existing rows keep their arrival batch, restored
        // rows land in the explicit backfill batch -1; orphans (docs
        // the corpus no longer has) drop out of the join. The carried
        // batches are aggregated to min(batch) per doc_id FIRST, so a
        // replay-duplicated store row can never fan the left join out
        // into duplicate rewritten rows — the leg is safe regardless of
        // which action the routing scheduled alongside. A VANISHED
        // store carries no batches, so every row lands in the backfill
        // batch — the from-scratch rebuild.
        remedy(hashesRoot, HashStoreDdl, Seq("batch")) { cur =>
          docs.join(cur.select(col("doc_id"), col("batch"))
              .groupBy(col("doc_id")).agg(min(col("batch")).as("batch")),
              Seq("doc_id"), "left")
            .select(md5(col("text").cast("binary")).as("h"), col("doc_id"),
              coalesce(col("batch"), lit(-1L)).as("batch"))
        }
      if (act("manifest") == "reingest")
        // the manifest is fully derived from (doc_id, text): re-pack
        // the corpus — token counts and offsets come back re-derived
        remedy(manifestPath, ManifestDdl)(_ =>
          graft.ext.Packing.packSequences(docs))
      if (act("hashes") == "repair" || act("manifest") == "repair" ||
          act("xstore") == "repair")
        storeRepair(spark, hashesRoot, manifestPath, pairsPath)
      if (act("pairs") == "rebuild")
        // ONE definition of the artifact: the pairsArtifactInit frame
        // (exactly-once emission means the pinned children's pairs are
        // a subset of the full recompute)
        remedy(pairsPath, PairsDdl)(_ => minhashPairsDf(docs))
      if (act("layout") == "rebuild")
        remedy(layoutPath, LayoutDdl, Seq("list_id"))(_ =>
          Ivf.layoutFrame(emb, cents))
      if (act("codes") == "reencode")
        remedy(codesPath, CodesDdl)(_ => Pq.encodeCorpus(emb, codebooks))
      if (act("index") == "rebuild") {
        // the sketch index is re-derived from the corpus under the one
        // band/shingle rule; BOTH snapshots pin before the first publish
        // (the deleteApplyImpl discipline) so an append racing the
        // rebuild keeps its band AND shingle children symmetric —
        // snapshotting shingles after the bands publish could retire a
        // racer's shingle child while its band child survives
        val bSnap = StoreIO.snapshot(spark, s"$indexPath/bands",
          Some(BandsDdl))
        val sSnap = StoreIO.snapshot(spark, s"$indexPath/shingles",
          Some(ShinglesDdl))
        StoreIO.publishMerged(spark, s"$indexPath/bands",
          bandTable(docs), bSnap)
        StoreIO.publishMerged(spark, s"$indexPath/shingles",
          shingleTable(docs), sSnap)
      }
      if (act("ivfpq") == "reencode")
        remedy(ivfpqPath, IvfPqDdl, Seq("list_id"))(_ =>
          Pq.ivfPqLayoutFrame(emb, cents, codebooks))
      if (act("packed") == "repack")
        remedy(packedPath, PackedDdl, Seq("shard"))(_ =>
          graft.ext.Packing.packedFrame(docs))
      if (act("features") == "backfill")
        // the ROW-granular delta (Backfill.backfillDeltaRows): the
        // audit that scheduled this counts missing ROWS, and a torn
        // partition's gap rows hide from the partition-granular
        // listing diff — scheduling that form would no-op and the loop
        // would re-plan `backfill` every round until maxRounds; the
        // row form stays partition-pruned (only gap partitions scan)
        remedy(featuresPath, FeaturesDdl)(cur =>
          graft.ext.Backfill.backfillApplyRows(docs, cur))
      if (act("features") == "rebuild")
        remedy(featuresPath, FeaturesDdl)(_ =>
          graft.ext.Backfill.featureDf(docs))
      current = plan()
      round += 1
    }
    current
    }
  }

  // The maintained stores' pinned schemas, for reading a MISSING store
  // as an empty frame (the audits then observe the loss as a total
  // coverage gap and the plan routes a rebuild — never a throw).
  private[graft] val HashStoreDdl = "h STRING, doc_id BIGINT, batch BIGINT"
  private[graft] val ManifestDdl =
    "doc_id BIGINT, n_tok BIGINT, t_off BIGINT, seq_id BIGINT, n_seqs BIGINT"
  private[graft] val LayoutDdl =
    "vec_id BIGINT, embedding ARRAY<FLOAT>, nrm DOUBLE, list_id INT"
  private[graft] val CodesDdl = "vec_id BIGINT, codes ARRAY<INT>"
  private[graft] val IvfPqDdl = "vec_id BIGINT, codes ARRAY<INT>, list_id INT"
  private[graft] val PackedDdl =
    "doc_id BIGINT, n_tok BIGINT, t_off BIGINT, seq_id BIGINT, " +
      "n_seqs BIGINT, text STRING, lang STRING, source STRING, " +
      "n_chars BIGINT, shard BIGINT"
  private[graft] val FeaturesDdl =
    "doc_id BIGINT, source STRING, n_tok BIGINT, n_chars BIGINT, " +
      "alpha_permille BIGINT"

  def qMaintenancePlan(spark: SparkSession, dir: String): DataFrame = {
    def live(path: String) = graft.ops.Publish.readLive(spark, path)
    val idx = ensureFullIndex(spark, dir)
    storePlanDf(Tables.documents(spark, dir), Tables.embeddings(spark, dir),
      verifiedPairs(spark, dir), live(ensureHashStore(spark, dir)),
      live(Packing.ensureManifest(spark, dir)), live(Ivf.ensureLayout(spark, dir)),
      live(Pq.ensureCodes(spark, dir)),
      graft.ops.StoreIO.read(spark, s"$idx/bands", Some(BandsDdl)),
      graft.ops.StoreIO.read(spark, s"$idx/shingles", Some(ShinglesDdl)),
      live(Pq.ensureIvfPqLayout(spark, dir)),
      live(Packing.ensurePackedStore(spark, dir)),
      live(Backfill.ensureFeatureArtifactFull(spark, dir)),
      Ivf.ensureModel(spark, dir), Pq.ensureModel(spark, dir))
  }

  // --- delete APPLY -----------------------------------------------------------
  //
  // q_delete_impact measures the right-to-be-forgotten blast radius;
  // this EXECUTES it: the delete set propagates through every piece of
  // persistent near-dup state the ingest pipeline maintains — the
  // MinHash sketch index (bands + shingles), the verified-pair
  // artifact, and the corpus-build content-hash delta store — and the
  // apply emits the re-election delta downstream consumers need (every
  // surviving document whose duplicate-cluster id changed, because its
  // canonical was deleted or its component split). All three stores are
  // keyed per document and every derived row's existence depends only
  // on its own endpoints, so FILTERING equals a from-scratch rebuild on
  // the surviving corpus — the stream==batch discipline, asserted
  // row-for-row by ExtSpec.

  /** Applies a delete set to the persistent near-dup state and returns
    * the RE-ELECTION DELTA: one row per surviving previously-clustered
    * document whose cluster id changes — to the new min member when the
    * old canonical is deleted, to a sub-component min when a bridge
    * deletion splits the cluster, to itself when its whole cluster
    * dissolves. Deletion only removes edges, so labels only move; no
    * new clustering can appear, and the delta is bounded by the
    * CLUSTERED doc count, not the corpus.
    *
    *   - `indexPath/bands`, `indexPath/shingles`: per-doc sketch rows →
    *     anti-join on doc_id (≡ [[indexInit]] on survivors);
    *   - `pairsPath`: pairs with a deleted endpoint → anti-join on both
    *     (≡ [[pairsArtifactInit]] on survivors — a pair's emission
    *     depends only on its own two documents);
    *   - `hashesRoot` (when given): the corpus-build stream's
    *     content-hash delta store, (h, doc_id) batch-keyed → anti-join
    *     on doc_id (the per-doc schema exists exactly so retraction is
    *     possible; the pre-r14 hash-only format cannot be
    *     delete-applied and fails fast).
    *
    * 100 TB shape: the delete set is checkpointed (delete-sized) and
    * broadcast into anti joins over each store scan — one pass per
    * store, no shuffle on the store side; both closures for the delta
    * run on the (pair-sized) before/after pair tables.
    */
  def deleteApply(deletedIds: DataFrame, indexPath: String, pairsPath: String,
      hashesRoot: Option[String] = None,
      manifestPath: Option[String] = None): DataFrame =
    deleteApplyImpl(deletedIds, indexPath, pairsPath, hashesRoot,
      manifestPath, () => ())

  /** [[deleteApply]] with the interleave test seam: `interleave` runs
    * after every store snapshot is pinned and before the first publish —
    * where a concurrent ingest append would land. The StreamingSpec
    * drill appends there and asserts nothing is lost (post-state ≡ the
    * serial order "delete apply, then the append").
    */
  private[graft] def deleteApplyImpl(deletedIds: DataFrame, indexPath: String,
      pairsPath: String, hashesRoot: Option[String],
      manifestPath: Option[String], interleave: () => Unit): DataFrame = {
    import graft.ops.StoreIO
    val spark = deletedIds.sparkSession
    // every store this apply rewrites, leased snapshot-through-publish
    // (sorted inside withLeases; fail-fast, so no deadlock ordering to
    // manage against other multi-store actors)
    val leased = Seq(s"$indexPath/bands", s"$indexPath/shingles", pairsPath) ++
      hashesRoot.toSeq ++ manifestPath.toSeq
    graft.ops.Lease.withLeases(spark, leased) {
    import graft.ops.Timing.step
    val del = step("da:del")(
      deletedIds.select(col("doc_id")).distinct().localCheckpoint())
    def survivors(df: DataFrame): DataFrame =
      df.join(broadcast(del), Seq("doc_id"), "left_anti")
    // pin every store's snapshot (live + the delta children present
    // NOW) before any store mutates: appends that arrive from here on
    // land in delta children these snapshots never listed, so every
    // publish below leaves them intact — the StoreIO serialization
    // contract between ingest and maintenance
    val bandsSnap = step("da:snapB")(
      StoreIO.snapshot(spark, s"$indexPath/bands", Some(BandsDdl)))
    val shinglesSnap = step("da:snapS")(
      StoreIO.snapshot(spark, s"$indexPath/shingles", Some(ShinglesDdl)))
    val hashSnap = hashesRoot.map { root =>
      // fail fast on the pre-r14 hash-only format BEFORE pinning a
      // schema that would fabricate NULL doc_ids — probe whatever part
      // of the store exists (live dir, else the first delta child)
      val probe = graft.ops.Publish.resolveLive(spark, root)
        .orElse(StoreIO.deltaChildren(spark, root).headOption)
      probe.foreach { p =>
        require(spark.read.parquet(p).schema.fieldNames.contains("doc_id"),
          s"deleteApply: hash store at $root lacks doc_id — the hash-only " +
            "format cannot be retracted; rebuild it with the per-doc schema")
      }
      StoreIO.snapshot(spark, root, Some(HashStoreDdl))
    }
    // the manifest has no pinned schema here: its snapshot reads the
    // live version as written (pack offsets are re-derived from it)
    val manifestSnap = manifestPath.map(StoreIO.snapshot(spark, _))
    val pairsSnap = step("da:snapP")(
      StoreIO.snapshot(spark, pairsPath, Some(PairsDdl)))
    val before = step("da:before")(pairsSnap.frame.localCheckpoint())
    interleave()
    // Every store's post-delete frame is computed (and checkpointed)
    // CONCURRENTLY — the frames depend only on the pinned snapshots and
    // the checkpointed delete set, so they are independent jobs the
    // driver was submitting one after another (guide §2.6). The
    // PUBLISHES stay on this thread, in the original order: the lease
    // fence is thread-local, so a worker-thread publish would silently
    // skip the usurpation check.
    // pack manifest: offsets re-derived from the SURVIVING rows' own
    // token counts — no corpus access (Packing.repackManifest); the
    // re-emitted span is priced by q_repack_delta
    val thunks: Seq[() => DataFrame] =
      Seq(
        () => step("da:cBands")(survivors(bandsSnap.frame).localCheckpoint()),
        () => step("da:cShingles")(
          survivors(shinglesSnap.frame).localCheckpoint())) ++
      manifestSnap.map(snap => () => step("da:cManifest")(
        Packing.repackManifest(survivors(snap.frame)).localCheckpoint())) ++
      hashSnap.map(snap => () => step("da:cHashes")(survivors(snap.frame)
        .select(col("h"), col("doc_id"), col("batch")).localCheckpoint())) :+
      (() => step("da:after")(before
        .join(broadcast(del.select(col("doc_id").as("doc_a"))),
          Seq("doc_a"), "left_anti")
        .join(broadcast(del.select(col("doc_id").as("doc_b"))),
          Seq("doc_b"), "left_anti")
        .select(col("doc_a"), col("doc_b"), col("jaccard"))
        .localCheckpoint()))
    val frames = graft.ops.Par.all(thunks)
    val after = frames.last
    // the re-election delta reads only the checkpointed before/after
    // closures — overlap it with the publishes below (guide §2.6)
    val deltaH = graft.ops.Par.start(() =>
      step("da:delta")(reElectionDelta(before, after, del)))
    var fi = 0
    def nextFrame(): DataFrame = { val f = frames(fi); fi += 1; f }
    // a failed publish still waits for the delta: it must not run on
    // after the leases are released and the caller's inputs are gone
    try {
      step("da:pubBands")(StoreIO.publishMerged(spark, s"$indexPath/bands",
        nextFrame(), bandsSnap))
      step("da:pubShingles")(StoreIO.publishMerged(spark, s"$indexPath/shingles",
        nextFrame(), shinglesSnap))
      manifestSnap.foreach { snap =>
        step("da:pubManifest")(StoreIO.publishMerged(spark, manifestPath.get,
          nextFrame(), snap))
      }
      hashSnap.foreach { snap =>
        step("da:pubHashes")(StoreIO.publishMerged(spark, hashesRoot.get,
          nextFrame(), snap, partitionBy = Seq("batch")))
      }
      step("da:pubPairs")(StoreIO.publishMerged(spark, pairsPath, after, pairsSnap))
    } finally deltaH.await()
    deltaH.get()
    }
  }

  /** The RE-ELECTION DELTA between two pair tables: one row per
    * surviving previously-clustered document whose cluster label
    * changes from the `before` closure to the `after` closure — shared
    * by the physical [[deleteApply]] and the tombstone (merge-on-read)
    * takedown [[qDeleteTombstone]], which must emit identical deltas
    * for the same delete set (same oracle pins both).
    */
  private[graft] def reElectionDelta(before: DataFrame, after: DataFrame,
      del: DataFrame): DataFrame = {
    def labels(pairs: DataFrame): DataFrame = Cluster.connectedComponents(
      pairs.select(col("doc_a").as("u"), col("doc_b").as("v")))
    // the before/after closures are independent iterative jobs over
    // checkpointed pair tables — run them concurrently (guide §2.6)
    val Seq(lb, la) = graft.ops.Par.all(Seq(
      () => graft.ops.Timing.step("da:ccBefore")(labels(before)),
      () => graft.ops.Timing.step("da:ccAfter")(labels(after))))
    lb
      .select(col("id").as("doc_id"), col("label").as("old_cluster_id"))
      .join(broadcast(del), Seq("doc_id"), "left_anti")
      .join(la
          .select(col("id").as("doc_id"), col("label").as("nl")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("old_cluster_id"),
        coalesce(col("nl"), col("doc_id")).as("new_cluster_id"))
      .filter(col("old_cluster_id") =!= col("new_cluster_id"))
      .orderBy("doc_id")
  }

  /** Per-(JVM, corpus) PRISTINE takedown fixture: the four stores a
    * delete apply mutates (sketch index, pair artifact, one-batch hash
    * store, pack manifest), staged ONCE. At 100 TB this is the ingest
    * pipeline's existing state, so staging it inside the timed entry
    * charged a full corpus sketch + the whole pair pipeline to the
    * operator under test every invocation — the r15 weak mark (and the
    * un-deleted temp roots were the r15 leak finding).
    */
  def ensureDeleteFixture(spark: SparkSession, dir: String): String =
    graft.ops.Scratch.fixture("delete_fixture", dir) { fixtureDir =>
      val docs = Tables.documents(spark, dir)
      val root = fixtureDir.toString
      indexInit(docs, s"$root/index")
      pairsArtifactInit(docs, s"$root/pairs")
      graft.ops.Publish.publish(spark, s"$root/hashes",
        docs.filter(col("doc_id") % 100 =!= 0)
          .select(md5(col("text").cast("binary")).as("h"), col("doc_id"),
            lit(0L).as("batch")), partitionBy = Seq("batch"))
      graft.ops.Publish.publish(spark, s"$root/manifest",
        Packing.packSequences(docs))
      root
    }

  /** Driver entry: applies the standing src7 takedown
    * ([[graft.ext.Curation.qDeleteImpact]]'s delete set) to the four
    * persistent stores and returns the re-election delta. The pristine
    * stores come from the per-(JVM, corpus) fixture and are COPIED per
    * invocation (file I/O, not a recompute — the apply rewrites them in
    * place, so a shared fixture would drift): the timed window is the
    * copy plus the apply itself, and repeated runs stay independent.
    * The scratch copy is dropped in finally — the delta is built from
    * checkpointed pair closures, so a bench run never accretes
    * corpus-sized store copies in /tmp.
    */
  def qDeleteApply(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    graft.ops.Scratch.withFixtureCopy(spark,
        ensureDeleteFixture(spark, dir), "delete_apply") { root =>
      deleteApply(docs.filter(col("source") === "src7").select("doc_id"),
        s"$root/index", s"$root/pairs", Some(s"$root/hashes"),
        Some(s"$root/manifest"))
    }
  }

  // --- tombstone takedowns (merge-on-read) -----------------------------------
  //
  // [[deleteApply]] is the REWRITE form of a takedown: correct, but a
  // single-document delete costs a full rewrite of every store — at
  // 100 TB the economics invert long before that (q_delete_economics
  // quantifies the inversion). The tombstone form defers the rewrite:
  //
  //   - a takedown APPENDS its doc_ids to a delete-vector store
  //     (O(delete set), through the same StoreIO delta discipline as
  //     every other append — idempotent under replay, safe against a
  //     concurrent compaction);
  //   - SERVED reads anti-join the broadcast tombstone set at the
  //     existing store-reader seams ([[pairsServed]] /
  //     [[docStoreServed]]) — identical results to the post-rewrite
  //     state (ExtSpec pins row equality per store);
  //   - COMPACTION ([[tombstoneCompact]]) folds the accumulated
  //     tombstones into the physical stores through [[deleteApply]]
  //     (one rewrite amortizes every takedown since the last fold) and
  //     retires exactly the folded tombstones — a takedown racing the
  //     fold survives as a live tombstone (the StoreIO snapshot
  //     contract).
  //
  // The pack manifest needs more than a filter — offsets are
  // POSITIONAL, so dropping a row shifts every later document's
  // t_off. Its served form is [[graft.ext.Packing.manifestServed]]:
  // stored rows before the first tombstoned doc pass through verbatim,
  // and only the affected suffix repacks (seeded with the tombstoned
  // row's own stored offset) — a takedown near the corpus tail costs
  // the tail, not the store. PackingSpec pins served ≡ full repack of
  // survivors; `q_manifest_served` hash-gates it against the
  // from-scratch pack of the surviving corpus.

  private[graft] val TombstonesDdl = "doc_id BIGINT"

  /** Records a takedown as a tombstone append — O(delete set), no store
    * rewrite. `token` is the replay idempotence key (a redelivered
    * takedown batch overwrites its own delta child).
    */
  def tombstoneAppend(deletedIds: DataFrame, tombsPath: String,
      token: String = ""): Unit =
    graft.ops.StoreIO.append(
      deletedIds.select(col("doc_id")).distinct(), tombsPath, token)

  /** The live delete-vector set (distinct — replayed appends under
    * DIFFERENT tokens may overlap; the set semantics absorb it).
    */
  def tombstonesRead(spark: SparkSession, tombsPath: String): DataFrame =
    graft.ops.StoreIO.read(spark, tombsPath, Some(TombstonesDdl)).distinct()

  /** Merge-on-read view of a doc-keyed store: store minus tombstones.
    * The tombstone side is delete-set-sized and broadcast, so a served
    * read pays one build-side hash set over the existing scan — no
    * shuffle, no rewrite.
    */
  def docStoreServed(store: DataFrame, tombs: DataFrame): DataFrame =
    store.join(broadcast(tombs.select(col("doc_id"))), Seq("doc_id"), "left_anti")
      .select(store.columns.map(col).toIndexedSeq: _*) // key join reorders; keep store order

  /** Merge-on-read view of the pair artifact: pairs with either
    * endpoint tombstoned drop (a pair's existence depends only on its
    * own endpoints — the pairwise-local argument, so filtering equals
    * the post-rewrite artifact exactly).
    */
  def pairsServed(pairs: DataFrame, tombs: DataFrame): DataFrame =
    pairs
      .join(broadcast(tombs.select(col("doc_id").as("doc_a"))),
        Seq("doc_a"), "left_anti")
      .join(broadcast(tombs.select(col("doc_id").as("doc_b"))),
        Seq("doc_b"), "left_anti")
      .select(col("doc_a"), col("doc_b"), col("jaccard"))

  /** Folds the accumulated tombstones into the physical stores (ONE
    * [[deleteApply]] rewrite amortizing every takedown since the last
    * fold) and retires exactly the folded tombstones. Returns the
    * re-election delta of the fold. Idempotent: with no tombstones
    * pending the stores are untouched... a takedown appended while the
    * fold runs lands in a delta child the snapshot never listed and
    * stays live for the next fold.
    */
  def tombstoneCompact(spark: SparkSession, tombsPath: String,
      indexPath: String, pairsPath: String,
      hashesRoot: Option[String] = None,
      manifestPath: Option[String] = None): DataFrame = {
    import graft.ops.StoreIO
    // leased like every rewrite span (the inner deleteApply re-enters
    // its own store leases on this thread); a takedown APPEND racing
    // the fold stays lock-free — the snapshot contract protects it
    graft.ops.Lease.withLeases(spark, Seq(tombsPath)) {
      val snap = StoreIO.snapshot(spark, tombsPath, Some(TombstonesDdl))
      val ids = snap.frame.select(col("doc_id")).distinct().localCheckpoint()
      // NOTHING PENDING → NOTHING REWRITTEN: a compaction cron firing
      // between takedowns must cost a tombstone-store listing, not a
      // corpus rewrite (deleteApply with an empty set would dutifully
      // rewrite every store to itself)
      if (ids.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType.fromDDL(
            "doc_id BIGINT, old_cluster_id BIGINT, new_cluster_id BIGINT"))
      else {
        val delta = deleteApply(ids, indexPath, pairsPath, hashesRoot,
          manifestPath)
        StoreIO.publishMerged(spark, tombsPath,
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType.fromDDL(TombstonesDdl)),
          snap)
        delta
      }
    }
  }

  /** Driver entry — the TOMBSTONE twin of [[qDeleteApply]], same output
    * and same oracle: the standing src7 takedown lands as a tombstone
    * append, and the re-election delta is computed entirely from
    * merged-on-read views of the MAINTAINED pair artifact. No store is
    * rewritten — the timed difference against q_delete_apply IS the
    * rewrite-vs-tombstone economics at this SF.
    */
  /** Per-(JVM, corpus) standing tombstone store (the src7 takedown as
    * a delete vector) — one fixture per corpus instead of a temp dir
    * per invocation (the annRetrainApply leak lesson); the idempotent
    * token makes re-ensuring a no-op.
    */
  def ensureStandingTombstones(spark: SparkSession, dir: String): String =
    graft.ops.Scratch.fixture("tombstones", dir) { fixtureDir =>
      val docs = Tables.documents(spark, dir)
      val p = fixtureDir.resolve("tombs").toString
      tombstoneAppend(docs.filter(col("source") === "src7").select("doc_id"), p,
        token = "src7")
      p
    }

  def qDeleteTombstone(spark: SparkSession, dir: String): DataFrame = {
    val tombs = tombstonesRead(spark, ensureStandingTombstones(spark, dir))
      .localCheckpoint()
    val before = verifiedPairs(spark, dir)
    reElectionDelta(before, pairsServed(before, tombs), tombs)
  }

  /** Takedown ECONOMICS — the break-even row that decides rewrite vs
    * tombstone for a delete set: the rewrite bill (surviving rows
    * re-written across the five per-doc stores — 32 band rows, one
    * shingle/hash/manifest row per doc, plus surviving pairs), the
    * tombstone bill (the delete set appended), their ratio, and the
    * simple break-even read count (each served read pays a broadcast
    * build over the tombstone set, so after rewrite_rows / n_deleted
    * reads the deferred rewrite has paid for itself — the compaction
    * trigger an operator schedules [[tombstoneCompact]] by). Integer
    * arithmetic end to end except the final ratio.
    */
  def qDeleteEconomics(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val del = docs.filter(col("source") === "src7").select(col("doc_id"))
      .localCheckpoint()
    val pairs = verifiedPairs(spark, dir)
    val corpusLeg = docs.agg(count(lit(1)).as("n_corpus"))
    val delLeg = del.agg(count(lit(1)).as("n_deleted"))
    val dropped = pairs
      .join(broadcast(del.select(col("doc_id").as("doc_a"))), Seq("doc_a"), "left_semi")
      .select(col("doc_a"), col("doc_b"))
      .unionByName(pairs
        .join(broadcast(del.select(col("doc_id").as("doc_b"))), Seq("doc_b"), "left_semi")
        .select(col("doc_a"), col("doc_b")))
      .distinct()
      .agg(count(lit(1)).as("n_pairs_dropped"))
    val pairLeg = pairs.agg(count(lit(1)).as("n_pairs"))
    corpusLeg.crossJoin(delLeg).crossJoin(pairLeg).crossJoin(dropped)
      .select(col("n_corpus"), col("n_deleted"), col("n_pairs"),
        col("n_pairs_dropped"),
        // bands(32) + shingles(1) + hashes(1) + manifest(1) per survivor
        (lit(35L) * (col("n_corpus") - col("n_deleted")) +
          (col("n_pairs") - col("n_pairs_dropped"))).as("rewrite_rows"),
        col("n_deleted").as("tombstone_rows"))
      .select(col("*"),
        // greatest(n, 1): an empty delete set (a corpus without src7
        // docs) must yield a finite row, not a NULL ratio here and a
        // division error in the DuckDB oracle — both sides guard the
        // same way, so the hash gate still agrees
        round(col("rewrite_rows").cast("double")
            / greatest(col("tombstone_rows"), lit(1L)), 4)
          .as("write_amplification"),
        expr("(rewrite_rows + tombstone_rows - 1)" +
            " div greatest(tombstone_rows, CAST(1 AS BIGINT))")
          .as("break_even_reads"))
  }

  // --- SimHash -------------------------------------------------------------

  val SimhashBits = 64

  /** 64-bit SimHash via the native [[graft.functions.SimHash]] expression:
    * distinct-shingle bit votes in one compiled pass per row — a pure map,
    * no explode/shuffle (the relational explode + 64-vote-column groupBy
    * works but shuffles S×docs rows for what a row-local loop computes).
    */
  def simhashTable(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.SketchFns.simhash(col("text"), 3).as("simhash"))

  /** Per-doc SimHash + near-dup pairs at Hamming distance ≤ 3, found by
    * the 4-chunk pigeonhole: any pair within distance 3 shares at least
    * one exact 16-bit chunk, so candidates come from chunk-bucket joins.
    */
  /** Exact-recall set-similarity join via PREFIX FILTERING (the
    * AllPairs/PPJoin family; cf. Bayardo et al. WWW'07) — the
    * deterministic alternative to MinHash-LSH candidate generation: two
    * shingle sets with Jaccard ≥ t MUST share at least one of each
    * other's (|s| − ⌈t·|s|⌉ + 1) globally rarest shingles, so candidates
    * come from equi-joining those prefixes only. Recall is EXACTLY 1 (a
    * theorem, not a tuning), so the result equals the exact all-pairs
    * truth — same oracle as dedup_minhash. High thresholds keep prefixes
    * short (t=0.8 ⇒ ~20% of each set), and the rarest-first global order
    * makes prefix tokens LOW-df, so the candidate join fan-out per token
    * is df² of rare tokens — the frequency ordering is what bounds the
    * bucket sizes.
    *
    * Scale shape: df is one shingle-keyed groupBy; the per-doc sort is
    * in-row (document-bounded); the candidate self-join keys on the
    * prefix shingle; verification joins candidates only. No all-pairs
    * anywhere.
    */
  def dedupPrefix(spark: SparkSession, dir: String, threshold: Double = 0.8): DataFrame =
    dedupPrefixDocs(Tables.documents(spark, dir), threshold)

  def dedupPrefixDocs(docs: DataFrame, threshold: Double): DataFrame =
    verifyPairs(prefixCandidates(docs, threshold), shingleTable(docs), threshold)

  /** The distinct candidate pairs the AllPairs prefix filter generates at
    * `threshold` — factored from [[dedupPrefixDocs]] so the scale
    * rehearsal's candidate probe counts exactly the pairs the query
    * verifies.
    *
    * Runs entirely in the HASH domain (the containment-join discipline):
    * shingles enter as the same 64-bit hashes [[verifyPairs]] walks, so
    * the df ranking, the per-doc sort, the prefix table, and the
    * candidate self-join all carry 8-byte longs instead of ~24-byte
    * shingle strings — the dominant shuffle of the whole family shrinks
    * ~3x. Correctness is unchanged: the AllPairs recall-1 theorem needs
    * only a CONSISTENT global total order on the tokens (rarest-first,
    * ties by any fixed rule — here the hash value), and the jaccard the
    * pairs are verified against was already the hash-set jaccard.
    */
  private[graft] def prefixCandidates(docs: DataFrame, threshold: Double): DataFrame = {
    // explode of the CANONICAL shingleTable — the recall-1 exactness
    // guarantee depends on indexing exactly the hash sets verifyPairs
    // walks, so the two sites must share one definition
    val sh = shingleTable(docs)
      .select(col("doc_id"), explode(col("hs")).as("s"))
    val dfTab = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val ranked = sh.join(dfTab, "s")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("s")))).as("toks"))
      .withColumn("plen",
        // ⌈t·|s|⌉ in DECIMAL arithmetic: the double product can round to
        // just above an integer when t's binary form exceeds its decimal
        // value, shortening the prefix below what the AllPairs recall-1
        // theorem requires; BigDecimal(toString) pins t to its decimal
        // meaning and the multiply/ceil are then exact
        (size(col("toks"))
          - ceil(lit(BigDecimal(threshold.toString)) * size(col("toks"))) + 1).cast("int"))
    val prefix = ranked
      .select(col("doc_id"), explode(slice(col("toks"), lit(1), col("plen"))).as("p"))
      .select(col("doc_id"), col("p.s").as("s"))
      // both sides of the candidate self-join consume this — without
      // the materialization each side replays the whole rank pipeline
      // (explode, df join, per-doc sort); the prefix table is ~(1-t) of
      // the shingle table, the smallest thing worth keeping
      .localCheckpoint()
    prefix.as("a")
      .join(prefix.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Jaccard grid for [[dedupThresholdSweep]] — 0.50 to 0.95 in 0.05
    * steps; the floor is the lowest threshold at which the prefix filter's
    * recall-1 theorem still holds over ONE candidate pass (any pair with
    * J ≥ 0.5 must share a prefix shingle at t = 0.5).
    */
  val SweepGrid: Array[Double] = (50 to 95 by 5).map(_ / 100.0).toArray

  /** Sample size for the sampled knob-sweep variants
    * ([[dedupThresholdSweepSampled]] / [[dedupLshCalibrationSampled]]).
    * Sized like the quantizer training samples ([[Ivf.SampleN]]): large
    * enough that the per-bin / per-threshold fractions stabilize, small
    * enough that the O(sample²)-bounded exact pair pass is constant
    * cost at ANY corpus size.
    */
  val SweepSampleDocs = 1024

  /** DuckDB mirror of [[Audit.docSample]] — [[graft.functions.MixSql]]'s
    * ONE hash-sample chain, ending in `documents_s` (the sampled
    * documents table the sampled oracles then read like `documents`).
    */
  private lazy val sampledDocsCtes: String =
    s"""${graft.functions.MixSql.hashSampleCtes("sw", "documents", "doc_id", SweepSampleDocs)},
       |documents_s AS MATERIALIZED (
       |  SELECT d.* FROM documents d JOIN swsamp USING (doc_id))""".stripMargin

  /** [[dedupThresholdSweep]] over the [[Audit.docSample]] sample — the
    * form of the knob-picking measurement that stays RUNNABLE at
    * 100 TB: the exact sweep's one recall-1 pair pass is corpus×corpus
    * (its x100 wall is the repo's heaviest), while this one's is
    * bounded by the FIXED sample size at any corpus scale — the only
    * corpus-sized work left is the TakeOrdered sample draw itself. The
    * per-threshold `dup_doc_frac` column is the estimator (a uniform
    * sample's duplicate-pair density estimates the corpus's near-dup
    * band shape); `n_pairs`/`n_docs_affected` are sample-level counts,
    * and ExtSpec asserts the sampled fraction curve tracks the exact
    * curve on the staged corpus. Oracle-mirrored sample rule
    * ([[sampledDocsCtes]]), so the entry stays hash-checkable.
    */
  def dedupThresholdSweepSampled(spark: SparkSession, dir: String): DataFrame =
    thresholdSweepDf(Audit.docSample(Tables.documents(spark, dir)))

  /** [[dedupLshCalibration]] over the [[Audit.docSample]] sample — same
    * scale argument as [[dedupThresholdSweepSampled]]: banding
    * catch-rates and the MinHash estimator mean are per-pair FRACTIONS,
    * so a fixed uniform sample estimates them at constant cost where
    * the exact form's truth pass grows with the corpus.
    */
  def dedupLshCalibrationSampled(spark: SparkSession, dir: String): DataFrame =
    lshCalibrationDf(Audit.docSample(Tables.documents(spark, dir)))

  /** Dedup-threshold sensitivity curve — the knob-picking measurement run
    * BEFORE committing a near-dup threshold at corpus scale: exact
    * duplicate-pair counts, affected-document counts, and the affected
    * fraction at every grid threshold, from ONE exact pair computation at
    * the grid floor ([[prefixCandidates]] at 0.5, verified by the same
    * jaccardSorted merge walk as [[verifyPairs]] but compared UNROUNDED
    * — recall 1 by the AllPairs theorem, so every grid row is EXACT
    * truth, not an LSH-recall-shaped undercount). A steep n_pairs drop
    * between two grid
    * points means the corpus has a near-dup band there; a flat tail means
    * the threshold choice barely matters above it.
    *
    * Scale shape: the corpus-sized work is the one prefix-filtered pass
    * (candidate fan-out bounded by rare-shingle df², same as
    * dedup_prefix at 0.5's longer-prefix cost); the grid explode runs on
    * the PAIR table (dup-pairs-sized, not corpus-sized) and output is
    * |grid|-bounded. Counts stay integers until the one final fraction.
    */
  def dedupThresholdSweep(spark: SparkSession, dir: String): DataFrame =
    thresholdSweepDf(Tables.documents(spark, dir))

  def thresholdSweepDf(docs: DataFrame): DataFrame = {
    import graft.functions.SketchFns
    // UNROUNDED jaccard throughout: grid comparison on the 4-dp rounded
    // value would count a pair with true j = 0.79996 at the 0.8 row
    // (verifyPairs rounds only for OUTPUT; its threshold filter is
    // unrounded) — the sweep must apply the same unrounded rule at
    // every grid point or its 0.8 row could exceed dedup_minhash's
    val shA = shingleTable(docs).select(col("doc_id").as("doc_a"), col("hs").as("hs_a"))
    val shB = shingleTable(docs).select(col("doc_id").as("doc_b"), col("hs").as("hs_b"))
    // both the pair count and the affected-doc count consume this —
    // without materialization each aggregate replays the whole prefix
    // pipeline (df join, per-doc sort, candidate join, verification)
    val pairs = prefixCandidates(docs, SweepGrid.head)
      .join(shA, "doc_a").join(shB, "doc_b")
      .withColumn("jaccard", SketchFns.jaccardSorted(col("hs_a"), col("hs_b")))
      .filter(col("jaccard") >= SweepGrid.head)
      .select("doc_a", "doc_b", "jaccard")
      .localCheckpoint()
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val grid = docs.sparkSession.range(1)
      .select(explode(lit(SweepGrid)).as("threshold"))
    // each surviving pair contributes its two endpoints: n_pairs = rows/2
    // (exact — the row count is even by construction)
    val agg = pairs
      .select(explode(lit(SweepGrid)).as("threshold"), col("jaccard"),
        col("doc_a"), col("doc_b"))
      .filter(col("jaccard") >= col("threshold"))
      .select(col("threshold"), explode(array(col("doc_a"), col("doc_b"))).as("d"))
      .groupBy(col("threshold"))
      .agg(count(lit(1)).as("n_rows"), countDistinct(col("d")).as("n_docs_affected"))
    grid.join(agg, Seq("threshold"), "left")
      .crossJoin(broadcast(nDocs))
      .select(
        col("threshold"),
        coalesce((col("n_rows") / 2).cast("long"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs_affected"), lit(0L)).as("n_docs_affected"),
        round(coalesce(col("n_docs_affected"), lit(0L)).cast("double") /
          col("n_docs"), 6).as("dup_doc_frac"))
      .orderBy("threshold")
  }

  /** LSH-index calibration AS A QUERY — for every exact duplicate pair
    * (the [[dedupPrefixDocs]] recall-1 truth at the 0.5 floor), grouped
    * into jaccard bins: (a) the fraction CAUGHT by the production r=4,b=32
    * banding (a pair is caught iff some band's 4 signature components all
    * agree — the event the band-hash join keys on), and (b) the mean
    * MinHash component-agreement fraction, whose expectation is exactly
    * the pair's jaccard (the unbiased MinHash estimator). Together they
    * validate the two layers the dedup_minhash pipeline trusts: the
    * banding theory curve 1−(1−j⁴)³² in the region the pipeline operates
    * (catch_rate ≈ 1 above j=0.5 — asserted against theory in spec), and
    * the signature's estimator fidelity per bin. The
    * [[graft.ext.Similarity.annRecallReport]] discipline pointed at the
    * MinHash index.
    *
    * Scale shape: corpus-sized work is the one prefix-filtered truth
    * pass; the compiled 128-hash signatures are computed for PAIR
    * ENDPOINT docs only (a semi-join against the truth — the oracle's
    * pd discipline), and everything else (signature joins, band tests,
    * binning) runs on the PAIR table. Bin ids go through DECIMAL so the
    * floor is exact; catch/agreement stay integer sums until the final
    * divisions.
    */
  def dedupLshCalibration(spark: SparkSession, dir: String): DataFrame =
    lshCalibrationDf(Tables.documents(spark, dir))

  def lshCalibrationDf(docs: DataFrame): DataFrame = {
    val d64 = org.apache.spark.sql.types.DataTypes.createDecimalType(6, 4)
    val r = NumHashes / Bands
    // consumed by both signature joins and the endpoint semi-join
    val truth = dedupPrefixDocs(docs, 0.5).localCheckpoint()
    // sign PAIR-ENDPOINT docs only (the oracle's pd discipline): the
    // 128-family sketch pass must never pay for documents no truth pair
    // touches
    val ids = truth.select(col("doc_a").as("doc_id"))
      .unionByName(truth.select(col("doc_b").as("doc_id")))
      .distinct()
    val sigs = minhashSignatures(docs.join(ids, Seq("doc_id"), "left_semi"))
    val a = sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val b = sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    truth.join(a, "doc_a").join(b, "doc_b")
      .withColumn("caught",
        when(exists(sequence(lit(0), lit(Bands - 1)),
          bb => slice(col("sig_a"), bb * r + 1, lit(r)) ===
            slice(col("sig_b"), bb * r + 1, lit(r))), 1L).otherwise(0L))
      .withColumn("n_eq",
        size(filter(sequence(lit(0), lit(NumHashes - 1)),
          i => element_at(col("sig_a"), i + 1) === element_at(col("sig_b"), i + 1)))
          .cast("long"))
      .withColumn("b10",
        least(floor(col("jaccard").cast(d64) * 10).cast("int"), lit(9)))
      .groupBy(col("b10"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("caught")).as("n_caught"),
        sum(col("n_eq")).as("eq_sum"))
      .select(
        (col("b10").cast("double") / 10).as("bin_lo"),
        col("n_pairs"), col("n_caught"),
        round(col("n_caught").cast("double") / col("n_pairs"), 4).as("catch_rate"),
        round(col("eq_sum").cast("double") / (col("n_pairs") * NumHashes), 4)
          .as("est_jaccard_mean"))
      .orderBy("bin_lo")
  }

  /** Edit-distance (Levenshtein ≤ k) string self-join via PASSJOIN-style
    * segment filtering (cf. Li/Deng/Feng, VLDB'11) — the edit-distance
    * sibling of [[dedupPrefixDocs]]'s set-similarity prefix filter, run
    * here over fixed-length 40-char document titles. Pigeonhole with
    * shifts: ≤ k edits touch at most k of the k+1 segments, so any
    * matching pair preserves at least one whole segment, displaced by at
    * most the net insertions/deletions before it (±k). Candidates
    * therefore come from equi-joining each string's k+1 SEGMENTS against
    * every other string's substrings of the same length at start
    * positions within ±k of the segment's home — recall is EXACTLY 1 (a
    * theorem, not a tuning); the native codegen `levenshtein` with an
    * early-exit threshold confirms.
    *
    * Scale shape: the index side carries k+1 rows per string, the probe
    * side ≤ (k+1)(2k+1); the candidate join keys on a ~13-char segment
    * string (selective on diverse text), and verification touches
    * candidates only. No all-pairs anywhere — the brute-force quadratic
    * join exists ONLY as the oracle.
    *
    * Precondition: equal-length strings (the single-length PassJoin
    * case); enforced by filtering to full-length titles, mirrored in the
    * oracle.
    */
  def dedupFuzzy(spark: SparkSession, dir: String, k: Int = 2,
      titleLen: Int = 40): DataFrame =
    fuzzyTitleJoin(Tables.documents(spark, dir), k, titleLen)

  def fuzzyTitleJoin(docs: DataFrame, k: Int = 2, titleLen: Int = 40): DataFrame = {
    val titled = docs
      .select(col("doc_id"), substring(col("text"), 1, titleLen).as("t"))
      .filter(length(col("t")) === titleLen)
    // segment layout: k+1 contiguous pieces, remainder spread to the tail
    val base = titleLen / (k + 1)
    val segLens = (0 to k).map(i => if (i < (k + 1) - titleLen % (k + 1)) base else base + 1)
    val segPos = segLens.scanLeft(1)(_ + _) // 1-based starts
    val segments = titled.select(col("doc_id"),
      explode(array((0 to k).map { i =>
        struct(lit(i).as("seg"), substring(col("t"), segPos(i), segLens(i)).as("s"))
      }: _*)).as("e"))
      .select(col("doc_id"), col("e.seg").as("seg"), col("e.s").as("s"))
    val probes = titled.select(col("doc_id"),
      explode(array((0 to k).flatMap { i =>
        val lo = math.max(1, segPos(i) - k)
        val hi = math.min(titleLen - segLens(i) + 1, segPos(i) + k)
        (lo to hi).map(p =>
          struct(lit(i).as("seg"), substring(col("t"), p, segLens(i)).as("s")))
      }: _*)).as("e"))
      .select(col("doc_id"), col("e.seg").as("seg"), col("e.s").as("s"))
      .distinct()
    val candidates = segments.as("a")
      .join(probes.as("b"),
        col("a.seg") === col("b.seg") && col("a.s") === col("b.s") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    candidates
      .join(titled.select(col("doc_id").as("doc_a"), col("t").as("ta")), "doc_a")
      .join(titled.select(col("doc_id").as("doc_b"), col("t").as("tb")), "doc_b")
      .withColumn("dist", levenshtein(col("ta"), col("tb"), k))
      .filter(col("dist") >= 0 && col("dist") <= k)
      .select(col("doc_a"), col("doc_b"), col("dist").cast("long").as("dist"))
      .orderBy("doc_a", "doc_b")
  }

  def dedupSimhash(spark: SparkSession, dir: String, maxHamming: Int = 3): DataFrame = {
    val docs = simhashTable(Tables.documents(spark, dir))

    val chunks = docs.select(
      col("doc_id"), col("simhash"),
      posexplode(transform(
        sequence(lit(0), lit(3)),
        c => call_function("shiftright", col("simhash"), (c * 16).cast("int"))
          .bitwiseAND(lit(0xffffL)))).as(Seq("chunk_idx", "chunk")))

    val a = chunks.select(col("chunk_idx"), col("chunk"),
      col("doc_id").as("doc_a"), col("simhash").as("sim_a"))
    val b = chunks.select(col("chunk_idx").as("ci_b"), col("chunk").as("ch_b"),
      col("doc_id").as("doc_b"), col("simhash").as("sim_b"))
    a.join(b, col("chunk_idx") === col("ci_b") && col("chunk") === col("ch_b") &&
        col("doc_a") < col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
      .orderBy("doc_a", "doc_b")
  }

  // --- n-gram (char-set) Jaccard: distinct-bitmap grouping -----------------

  /** Documents grouped by their exact 128-bit ASCII char-set bitmap (two
    * longs from the native [[graft.functions.CharBitmap]] byte-walk), with
    * only the 101 smallest doc_ids retained per group.
    *
    * 101 is provably enough to reconstruct the global top-100 pairs under
    * the (jaccard DESC, doc_a, doc_b) ordering: if a pair's member is NOT
    * among the 101 smallest ids on its side, pairing each smaller same-side
    * id with the other member yields >100 pairs that sort strictly earlier
    * at the same jaccard, so the pair cannot be in the top-100.
    */
  private def ngramGroups(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang"), col("m0"), col("m1")).orderBy(col("doc_id"))
    docs.select(col("lang"), col("doc_id"),
        graft.functions.SketchFns.charBitmap(col("text")).as("mask"))
      .select(col("lang"), col("doc_id"),
        element_at(col("mask"), 1).as("m0"), element_at(col("mask"), 2).as("m1"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 101)
      .groupBy(col("lang"), col("m0"), col("m1"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
  }

  /** Candidate GROUP pairs for char-set jaccard: every unordered pair of
    * distinct bitmaps within a language (cross pairs) plus each multi-doc
    * bitmap paired with itself (self pairs — jaccard exactly 1 by
    * definition, which is where near-dup corpora concentrate: 10,665 of
    * the sf0.01 pairs are char-set-identical).
    *
    * This replaces the lang-block all-pairs doc join: pairwise work is now
    * O(D²) in the number of DISTINCT char sets, independent of corpus
    * size (134 distinct at sf0.01 / 500 docs; 778 at sf0.1 / 5000 — D
    * grows sublinearly because documents reuse alphabets). Doubling the
    * corpus with duplicate content adds ZERO cross pairs — at most one
    * self pair per previously-singleton bitmap, i.e. growth is bounded by
    * D, never corpus² (asserted in ExtSpec). The D-row group table is
    * orders of magnitude smaller than
    * the corpus, so Catalyst broadcasts it and the only corpus-wide
    * shuffle is the groupBy on the bitmap key.
    */
  def ngramGroupPairs(docs: DataFrame): DataFrame = {
    val g = ngramGroups(docs)
    val a = g.select(col("lang"), col("m0").as("a0"), col("m1").as("a1"),
      col("ids").as("ids_a"))
    val b = g.select(col("lang").as("lang_b"), col("m0").as("b0"), col("m1").as("b1"),
      col("ids").as("ids_b"))
    val cross = a.join(b,
        col("lang") === col("lang_b") &&
          (col("a0") < col("b0") || (col("a0") === col("b0") && col("a1") < col("b1"))))
      .drop("lang_b")
    val self = g.filter(size(col("ids")) >= 2)
      .select(col("lang"), col("m0").as("a0"), col("m1").as("a1"), col("ids").as("ids_a"),
        col("m0").as("b0"), col("m1").as("b1"), col("ids").as("ids_b"))
    cross.unionByName(self)
  }

  /** Character-set Jaccard top-100 pairs per the (jaccard DESC, doc_a,
    * doc_b) ordering — values match DuckDB's `jaccard(a,b)` string
    * function exactly on ASCII text (the oracle).
    *
    * Exact-top-k reconstruction from group pairs: rank group pairs by
    * (jaccard DESC, lexicographically-smallest doc pair), keep 100 —
    * sufficient because each higher-ranked group pair contributes at least
    * its minimal doc pair, which precedes every doc pair of a lower-ranked
    * group under the final ordering. Only those ≤100 group pairs are
    * expanded into doc pairs (≤101×101 each), then globally re-ranked.
    * Both top-k steps lower to TakeOrderedAndProject — no global sort.
    */
  def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame =
    dedupNgramJaccardDf(Tables.documents(spark, dir))

  def dedupNgramJaccardDf(docs: DataFrame): DataFrame = {
    val inter = (bit_count(col("a0").bitwiseAND(col("b0"))) +
      bit_count(col("a1").bitwiseAND(col("b1")))).cast("double")
    val union = (bit_count(col("a0").bitwiseOR(col("b0"))) +
      bit_count(col("a1").bitwiseOR(col("b1")))).cast("double")
    val isSelf = col("a0") === col("b0") && col("a1") === col("b1")
    val scored = ngramGroupPairs(docs)
      .withColumn("jaccard", round(inter / union, 4))
      .withColumn("is_self", isSelf)
      // the lexicographically-smallest doc pair this group pair can emit:
      // self -> its two smallest ids; cross -> the two block minima sorted
      .withColumn("min1", least(element_at(col("ids_a"), 1), element_at(col("ids_b"), 1)))
      .withColumn("min2",
        when(col("is_self"), element_at(col("ids_a"), 2))
          .otherwise(greatest(element_at(col("ids_a"), 1), element_at(col("ids_b"), 1))))
    scored
      .orderBy(col("jaccard").desc, col("min1"), col("min2"))
      .limit(100)
      .select(col("lang"), col("jaccard"), col("is_self"), col("ids_b"),
        explode(col("ids_a")).as("x"))
      .select(col("lang"), col("jaccard"), col("is_self"), col("x"),
        explode(col("ids_b")).as("y"))
      // self groups: each unordered pair appears as (x,y) and (y,x) — keep
      // one; cross groups: each pair appears once, in either orientation
      .filter(when(col("is_self"), col("x") < col("y")).otherwise(lit(true)))
      .select(col("lang"),
        least(col("x"), col("y")).as("doc_a"),
        greatest(col("x"), col("y")).as("doc_b"),
        col("jaccard"))
      .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
      .limit(100)
  }

  // --- embedding cosine near-dup -------------------------------------------

  /** Top-50 most-similar embedding pairs by exact cosine, blocked by
    * `label`. This is the EXACT-semantics baseline (oracle: DuckDB
    * `list_cosine_similarity` over the same label blocks) — exact top-k
    * pair similarity is inherently all-pairs within a block, so its cost
    * is block², acceptable only when blocks are small. The corpus-scale
    * variant with bucket-bounded pairwise work is [[dedupEmbeddingLsh]].
    */
  /** Guard against the block² blow-up: the exact form refuses to run when
    * any label block exceeds this many vectors — past that, the LSH
    * variant ([[dedupEmbeddingLsh]]) is the only sane plan, and failing
    * fast beats a job that shuffles block² pairs for hours. 20k² / 2 =
    * 2×10⁸ pairs ≈ the largest all-pairs job worth running exactly.
    */
  val MaxExactBlock = 20000

  def dedupEmbedding(spark: SparkSession, dir: String,
      maxBlock: Int = MaxExactBlock): DataFrame = {
    import graft.functions.VectorFns
    val e = Tables.embeddings(spark, dir)
      .select(col("label"), col("vec_id"), col("embedding"),
        VectorFns.l2norm(col("embedding")).as("nrm")) // norm once per vector
    val biggest = e.groupBy(col("label")).count()
      .agg(max(col("count"))).first().getLong(0)
    require(biggest <= maxBlock,
      s"exact all-pairs dedup is block-quadratic: largest label block has " +
        s"$biggest vectors (max $maxBlock); use dedupEmbeddingLsh for this corpus")
    val a = e.select(col("label"), col("vec_id").as("vec_a"),
      col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
    val b = e.select(col("label").as("label_b"), col("vec_id").as("vec_b"),
      col("embedding").as("emb_b"), col("nrm").as("nrm_b"))
    a.join(b, col("label") === col("label_b") && col("vec_a") < col("vec_b"))
      .select(col("label"), col("vec_a"), col("vec_b"),
        round(VectorFns.dotProduct(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b")), 4)
          .as("cosine"))
      .orderBy(col("cosine").desc, col("vec_a"), col("vec_b"))
      .limit(50)
  }

  /** Embedding near-dup, the 100 TB shape: candidate pairs are vectors
    * whose SRP-LSH signatures ([[Similarity.lshSignature]]) are within
    * Hamming distance 1, generated by a bucket join — each vector explodes
    * to 13 probe keys (own bucket + 12 one-bit flips) matched against the
    * other side's OWN bucket, so a qualifying pair matches exactly once
    * and pairwise work is bounded by bucket occupancy, never corpus².
    * Candidates are re-ranked by exact cosine (same verify step as the
    * exact baseline). Rows-only check; recall on planted near-identical
    * pairs and the candidate-count bound are asserted in ExtSpec.
    */
  def dedupEmbeddingLsh(spark: SparkSession, dir: String): DataFrame =
    dedupEmbeddingLshDf(Tables.embeddings(spark, dir), 50)

  /** Candidate pairs (vec_a < vec_b, signature Hamming ≤ 1) with exact
    * cosine — pre-top-k, exposed for the ExtSpec candidate-bound check.
    * Both join sides are corpus-sized, so like [[Similarity.annKnnGraph]]
    * / [[Similarity.bitextMine]] the signature width defaults to the
    * [[Similarity.autoBits]] staircase (floor = the historical 12 bits,
    * keeping every test-SF result and the recall spec bit-identical) —
    * a fixed width would go bucket-quadratic once the corpus outgrows
    * it, the exact defect the round-10 rehearsal measured on the
    * knn graph.
    */
  def dedupEmbeddingLshCandidates(emb: DataFrame, bits: Int = 0): DataFrame = {
    import graft.functions.VectorFns
    val b = if (bits > 0) bits
      else Similarity.autoBits(graft.Tables.metadataRowCount(emb))
    val e = emb.select(col("vec_id"), col("embedding"),
      VectorFns.l2norm(col("embedding")).as("nrm"),
      Similarity.lshSignature(col("embedding"), b).as("bucket"))
    val probes = e.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"),
      col("nrm").as("nrm_a"),
      explode(concat(
        array(col("bucket")),
        transform(sequence(lit(0), lit(b - 1)),
          i => col("bucket")
            .bitwiseXOR(call_function("shiftleft", lit(1L), i.cast("int")).cast("long")))))
        .as("bucket"))
    val rhs = e.select(col("bucket"), col("vec_id").as("vec_b"),
      col("embedding").as("emb_b"), col("nrm").as("nrm_b"))
    probes.join(rhs, Seq("bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(VectorFns.dotProduct(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b")), 4)
          .as("cosine"))
  }

  def dedupEmbeddingLshDf(emb: DataFrame, k: Int): DataFrame =
    dedupEmbeddingLshCandidates(emb)
      .orderBy(col("cosine").desc, col("vec_a"), col("vec_b"))
      .limit(k)

  /** SemDeDup-style semantic dedup: cluster the embedding space with the
    * IVF coarse quantizer (deterministic k-means on a bounded sample,
    * assignment via the compiled [[graft.functions.NearestCentroids]]
    * map — no shuffle), then mark within-cluster pairs above the cosine
    * threshold and drop the higher vec_id of each pair. Keeping the
    * min-id endpoint of every qualifying pair approximates one
    * representative per duplicate group without a transitive-closure
    * pass — the published SemDeDup recipe. Pairwise work is
    * cluster²-bounded by construction (that bound is the point of
    * clustering first); the same fail-fast guard as the exact baseline
    * refuses degenerate clusterings. Summary: per-cluster size and drop
    * count. Rows-only (learned centroids aren't ANSI-expressible);
    * ExtSpec checks the drop set against an in-memory within-cluster
    * pairwise pass.
    */
  def dedupSemantic(spark: SparkSession, dir: String,
      tau: Double = 0.92, maxCluster: Int = MaxExactBlock): DataFrame = {
    import graft.functions.VectorFns
    val emb = Tables.embeddings(spark, dir)
    val cents = Ivf.ensureModel(spark, dir)
    val e = Ivf.assignLists(emb, cents)
      .select(col("list_id"), col("vec_id"), col("embedding"),
        VectorFns.l2norm(col("embedding")).as("nrm"))
    val biggest = e.groupBy(col("list_id")).count()
      .agg(max(col("count"))).first().getLong(0)
    require(biggest <= maxCluster,
      s"within-cluster dedup is cluster-quadratic: largest cluster has " +
        s"$biggest vectors (max $maxCluster); retrain with more centroids")
    val a = e.select(col("list_id"), col("vec_id").as("vec_a"),
      col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
    val b = e.select(col("list_id").as("list_b"), col("vec_id").as("vec_b"),
      col("embedding").as("emb_b"), col("nrm").as("nrm_b"))
    val dropped = a.join(b, col("list_id") === col("list_b") && col("vec_a") < col("vec_b"))
      .filter(VectorFns.dotProduct(col("emb_a"), col("emb_b")) /
        (col("nrm_a") * col("nrm_b")) >= tau)
      .select(col("list_id"), col("vec_b").as("vec_id")).distinct()
    e.groupBy(col("list_id")).agg(count(lit(1)).as("n_vecs"))
      .join(dropped.groupBy(col("list_id")).agg(count(lit(1)).as("n_dropped")),
        Seq("list_id"), "left")
      .select(col("list_id"), col("n_vecs"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"))
      .orderBy("list_id")
  }

  // --- exact substring (span) dedup ----------------------------------------

  /** Span window width / expected anchor spacing for [[dedupSpans]]. */
  val SpanWindow = 48
  val SpanStride = 16

  /** Exact duplicated-passage detection (the span-level complement of
    * whole-document dedup), per Lee et al. 2022 ("Deduplicating Training
    * Data Makes Language Models Better"): hash fixed-width character
    * windows and group by hash — documents sharing a verbatim passage
    * collide on its windows.
    *
    * Window starts are CONTENT-DEFINED (winnowing-style anchoring): a
    * window begins wherever the multiplicative hash of the leading
    * codepoint trigram lands in the low 1/16 of the 32-bit range (see
    * [[graft.functions.AnchoredSpans]] for why the hash must use its
    * HIGH bits and why any single-codepoint mod rule over-anchors on
    * prose — ' ' ≡ 0 (mod 16) fires at nearly every word boundary). A
    * copied passage therefore anchors at the same passage-relative
    * offsets in every document that contains it — detection is
    * offset-alignment-free, which a fixed-stride grid is not (copies at
    * offsets differing mod stride would sample disjoint windows and
    * never collide). Anchor density is ~1/16 of positions (measured
    * 6.2% on the test corpus), so per-document work stays O(n) cheap
    * checks + O(n/16) hashes: the compiled AnchoredSpans expression
    * emits only the surviving windows in one byte-walk (the composed
    * explode(sequence)+filter form generates a row per CHAR and
    * re-seeks UTF-8 per substring — ExtSpec pins equality), the generate
    * collapses into the partial aggregate — no row explosion crosses
    * the exchange — and the only shuffle is the groupBy on the 128-bit
    * hash, with output bounded by the number of duplicated spans. A
    * shared passage of L ≥ 63 chars is missed only if its first L-47
    * chars contain no anchor: probability ≈ (15/16)^(L-47), under 4%
    * by L = 97 chars.
    *
    * md5 rather than [[graft.functions.RollingHashFingerprint]] so the
    * oracle reproduces the values verbatim; the rolling hash is the
    * cheaper scale path when cross-engine parity isn't needed.
    */
  def dedupSpans(spark: SparkSession, dir: String): DataFrame =
    dedupSpansDf(Tables.documents(spark, dir))

  def dedupSpansDf(docs: DataFrame): DataFrame =
    docs
      .filter(col("n_chars") >= SpanWindow)
      .select(col("doc_id"),
        explode(graft.functions.AnchoredSpans(col("text"), SpanWindow, SpanStride)).as("span"))
      .select(col("doc_id"), md5(col("span").cast("binary")).as("span_hash"))
      .groupBy(col("span_hash"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("n_docs").desc, col("span_hash"))

  /** Asymmetric containment detection — the quote/near-subset
    * complement to the SYMMETRIC jaccard dedups: a short document can
    * be wholly contained in a long one while their jaccard stays tiny
    * (|A∩B|/|A∪B| is diluted by the long side), so a jaccard threshold
    * never finds it. Containment C(a,b) = |S(a)∩S(b)|/|S(a)| over
    * distinct word-3-shingles is the standard training-data check for
    * verbatim quotes / excerpt duplication. The source side is scoped
    * by a predicate (here n_chars < maxChars — excerpt-sized docs);
    * candidates come from the same shingle-keyed equi join every other
    * dedup uses.
    *
    * STOP-SHINGLE CAP: the candidate join's per-shingle work is
    * df_src(s) × df_dst(s), so corpus-scale stop-shingles ("one of
    * the") make the join quadratic in their document frequency while
    * carrying no containment signal — a shingle shared with half the
    * corpus identifies nothing at a 0.5 threshold. Shingles with df >
    * maxDf are dropped from BOTH the candidate join and the source
    * size (containment is measured over the informative-shingle
    * subset, the standard text-reuse practice). That bounds per-shingle
    * join work by maxDf² and total candidate pairs by
    * |kept shingles|·maxDf — corpus-size-independent, which is what
    * lets the same plan run at 100 TB. With the cap, pairwise work is
    * bounded by capped per-shingle document frequency, never corpus².
    * The STOP set (df > maxDf) is the bounded artifact — at most
    * occurrences/maxDf rows — so it materializes once and the source
    * side drops it via broadcast anti join; one shuffle on the shingle
    * for the candidate join, one on the (src,dst) pair; the per-source
    * size table joins back without a hint (AQE broadcasts it while it
    * fits).
    */
  def dedupContainment(spark: SparkSession, dir: String): DataFrame =
    dedupContainmentDf(Tables.documents(spark, dir))

  /** Default stop-shingle document-frequency cap: far above any real
    * duplicate-cluster size, far below stop-phrase df at corpus scale.
    */
  val ContainmentMaxDf = 256

  /** Shared head of [[dedupContainmentDf]] and the scale rehearsal's
    * candidate-volume probe: (source grams with the stop-shingle anti
    * join applied, all grams). The candidate join volume — the thing
    * the df cap provably bounds linearly in corpus size — is exactly
    * `aGrams ⋈_s grams` below; counting it directly separates
    * algorithmic growth from single-box saturation. Round-12 task-
    * metric instrumentation corrected the saturation's NAME: the x100
    * tail spills NOTHING (0 memory/disk spill bytes in every config);
    * the binding term is the candidate-join stage's partial pair
    * aggregation, whose per-task hash-map state outgrows the CPU cache
    * once AQE's default 64 MB advisory partitions put ~4M pairs in one
    * task (hot-stage CPU 627 s -> 275 s when advisory drops to 8 MB and
    * the same work runs as 80 cache-resident tasks; BENCH_SCALE.md
    * round-12 table). The production knob is therefore
    * `spark.sql.adaptive.advisoryPartitionSizeInBytes` sized so
    * per-task aggregation state stays cache-resident — not heap (96 GiB
    * measured slower: page-cache zero-sum on one box) and not raw
    * shuffle-partition count (AQE coalesces it back to the advisory
    * size; 320 -> 34 tasks measured).
    */
  private def containmentGrams(docs: DataFrame,
      maxChars: Int, maxDf: Int): (DataFrame, DataFrame) = {
    // shingles enter the join as their 64-bit FNV+avalanche hashes
    // ([[graft.functions.SketchFns.shingleHashSet]], the minhash base
    // hash), not strings: the candidate join is the pipeline's one
    // corpus-sized shuffle, and an 8-byte fixed-width key more than
    // halves its bytes vs ~20-byte shingle text while keeping the
    // sort/hash fast-path fixed-width. Containment over hashed
    // shingles equals containment over shingles except under a 64-bit
    // collision INSIDE one document pair's gram sets — order 2^-64 per
    // pair, zero observed at any test SF (the string-based oracle
    // hash-matches exactly), and at worst ±1 on one intersection count
    // at corpus scale — the standard text-reuse trade.
    val grams = docs.select(col("doc_id"),
      explode(graft.functions.SketchFns.shingleHashSet(col("text"), 3)).as("s"))
    // stop = shingle hashes in MORE than maxDf docs (the hash set is
    // distinct per doc, so count(*) IS document frequency).
    // The stop set — not its informative complement — is the bounded
    // artifact: |stop| ≤ total shingle occurrences / maxDf, tiny at any
    // corpus size, so it materializes once (localCheckpoint) and the
    // source side drops it with a broadcast ANTI join instead of
    // shuffling a corpus-sized informative table.
    val stop = grams.groupBy(col("s"))
      .agg(count(lit(1)).as("df")).filter(col("df") > maxDf)
      .select(col("s"))
      .localCheckpoint()
    // filtering the SOURCE side alone caps both sides: the candidate
    // join is an equi join on s, so a dst row only survives when it
    // shares an informative shingle with some source row
    val aGrams = docs.filter(col("n_chars") < maxChars)
      .select(col("doc_id").as("src_id"),
        explode(graft.functions.SketchFns.shingleHashSet(col("text"), 3)).as("s"))
      .join(stop, Seq("s"), "left_anti")
    (aGrams, grams)
  }

  /** Candidate-join rows of [[dedupContainmentDf]] before pair
    * aggregation (scale-rehearsal probe).
    */
  private[graft] def containmentCandidateRows(docs: DataFrame,
      maxChars: Int = 400, maxDf: Int = ContainmentMaxDf): DataFrame = {
    val (aGrams, grams) = containmentGrams(docs, maxChars, maxDf)
    aGrams.join(grams.withColumnRenamed("doc_id", "dst_id"), "s")
      .filter(col("src_id") =!= col("dst_id"))
  }

  def dedupContainmentDf(docs: DataFrame, threshold: Double = 0.5,
      maxChars: Int = 400, maxDf: Int = ContainmentMaxDf): DataFrame = {
    val (aGrams, grams) = containmentGrams(docs, maxChars, maxDf)
    val aSize = aGrams.groupBy(col("src_id")).agg(count(lit(1)).as("n_src"))
    aGrams.join(grams.withColumnRenamed("doc_id", "dst_id"), "s")
      .filter(col("src_id") =!= col("dst_id"))
      .groupBy(col("src_id"), col("dst_id"))
      .agg(count(lit(1)).as("i"))
      .join(aSize, "src_id")
      .filter(col("i").cast("double") / col("n_src") >= threshold)
      .select(col("src_id"), col("dst_id"),
        round(col("i").cast("double") / col("n_src"), 4).as("containment"))
      .orderBy(col("src_id"), col("dst_id"))
  }

  /** Per-document duplication profile — the corpus-level NOVELTY signal
    * a quality-filtering pipeline ranks documents by (the
    * duplication-ratio feature family of RefinedWeb/Dolma; the
    * intra-document sibling is `text_repetition`): for every document,
    * the fraction of its distinct 3-shingles that also occur in at
    * least one OTHER document. 1.0 = nothing novel (boilerplate or a
    * near-copy of something else in the corpus); 0.0 = entirely novel.
    * Unlike the pair-producing dedup joins this never forms document
    * pairs — one df aggregate over shingle hashes plus one join of the
    * occurrence list back to that df table, both LINEAR in total
    * shingle occurrences, so the plan needs no df cap at any corpus
    * size. Shingles enter as 64-bit hashes (the dedup_containment
    * trade: per-doc error order 2^-64, string-level oracle exact at
    * the test SFs); df > 1 means "occurs in another document" because
    * the per-doc hash set is DISTINCT.
    */
  def dedupNovelty(spark: SparkSession, dir: String): DataFrame =
    dedupNoveltyDf(Tables.documents(spark, dir))

  def dedupNoveltyDf(docs: DataFrame): DataFrame = {
    val grams = docs.select(col("doc_id"),
      explode(graft.functions.SketchFns.shingleHashSet(col("text"), 3)).as("s"))
    val dfreq = grams.groupBy(col("s")).agg(count(lit(1)).as("df"))
    grams.join(dfreq, "s")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") > 1, 1L).otherwise(0L)).as("n_shared"))
      .select(col("doc_id"), col("n_shingles"),
        round(col("n_shared").cast("double") / col("n_shingles"), 4).as("dup_frac"))
      .orderBy("doc_id")
  }

  // --- winnowing (MOSS) span-overlap dedup ---------------------------------

  /** Per-fingerprint document-frequency cap for [[dedupWinnow]]: a
    * fingerprint appearing in more than this many documents is
    * boilerplate (a ≥31-byte substring shared corpus-wide), carries no
    * pair-discriminating signal, and would make the candidate join
    * quadratic in its df — the same guard as `dedup_containment`'s
    * stop-shingle cap. Per-fingerprint join work is bounded by cap²,
    * independent of corpus size.
    */
  val WinnowMaxDf = 64

  /** Pair-report rule: strong ABSOLUTE span evidence ([[WinnowMinShared]]
    * shared fingerprints — with k=24, w=8 accidental collisions on this
    * corpus die out below 3) OR strong RELATIVE coverage
    * ([[WinnowMinOverlap]] of the smaller document's fingerprint set,
    * with ≥2 shared so a single tiny-doc collision can't qualify). The
    * relative arm exists for short documents: a 55-char near-dup copy
    * has only ~4 fingerprints total and can never reach the absolute
    * bar, but covers its counterpart's set completely.
    */
  val WinnowMinShared = 5
  val WinnowMinOverlap = 0.5

  /** Exploded winnowing fingerprint table: (doc_id, fp), distinct per
    * document by construction (the kernel emits a sorted set).
    */
  def winnowTable(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(graft.functions.WinnowFingerprints(
        col("text"), Text.WinnowK, Text.WinnowW)).as("fp"))

  /** Span-overlap near-dup pairs via winnowing fingerprints (the MOSS
    * construction): documents sharing ≥ [[WinnowMinShared]] selected
    * fingerprints, with the share of the smaller document's fingerprint
    * set covered. Complements `dedup_minhash` (whole-document Jaccard)
    * and `dedup_spans` (fixed 48-char window hashes): winnowing gives a
    * DENSITY-GUARANTEED span signal — any shared run of ≥31 bytes
    * leaves a fingerprint, and the shared-count approximates covered
    * span length at ~2/(w+1) resolution.
    *
    * Scale shape: the fingerprint table is ~22% of k-gram positions
    * (deduped further by selection repeats), carries only (doc_id, fp)
    * through the shuffle, and the candidate equi-join is fp-bucketed
    * with the [[WinnowMaxDf]] cap anti-joined out first — per-key work
    * ≤ cap², never corpus². The three consumers of the fingerprint
    * table (cap counts, pair join, per-doc sizes) are each one
    * map-side-combined aggregate over the same compiled-kernel map
    * stage; nothing materializes the corpus text past the scan.
    */
  def dedupWinnow(spark: SparkSession, dir: String): DataFrame = {
    val sel = winnowTable(Tables.documents(spark, dir))
    // the hot set is the BOUNDED artifact (|hot| ≤ total fingerprints /
    // maxDf): materialize it once so the anti join broadcasts a
    // checkpointed leaf instead of replanning the corpus-wide df
    // aggregate under both aliased sides of the pair join — the same
    // discipline as dedupContainmentDf's stop set
    val hot = sel.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") > WinnowMaxDf).select("fp")
      .localCheckpoint()
    val kept = sel.join(hot, Seq("fp"), "left_anti")
    val sizes = sel.groupBy(col("doc_id")).agg(count(lit(1)).as("nsel"))
    val a = kept.select(col("fp"), col("doc_id").as("doc_a"))
    val b = kept.select(col("fp").as("fp_b"), col("doc_id").as("doc_b"))
    a.join(b, col("fp") === col("fp_b") && col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared_fp"))
      .filter(col("shared_fp") >= 2) // cheap pre-cut before the size joins
      .join(sizes.select(col("doc_id").as("doc_a"), col("nsel").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("nsel").as("nb")), "doc_b")
      .withColumn("ov", col("shared_fp").cast("double") / least(col("na"), col("nb")))
      .filter(col("shared_fp") >= WinnowMinShared || col("ov") >= WinnowMinOverlap)
      .select(col("doc_a"), col("doc_b"), col("shared_fp"),
        round(col("ov"), 4).as("overlap"))
      .orderBy("doc_a", "doc_b")
  }

  /** Mirror of [[dedupWinnow]] over [[Text.winnowSelectedCte]] — same
    * df-cap anti-join, same pair threshold, same min-set denominator.
    */
  private lazy val winnowPairsSql: String =
    s"""WITH ${Text.winnowSelectedCte},
       |hot AS (SELECT sel FROM wsel GROUP BY sel HAVING count(*) > $WinnowMaxDf),
       |kept AS (SELECT doc_id, sel FROM wsel ANTI JOIN hot USING (sel)),
       |sizes AS (SELECT doc_id, count(*) AS nsel FROM wsel GROUP BY doc_id),
       |shared AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
       |           FROM kept a JOIN kept b ON a.sel = b.sel AND a.doc_id < b.doc_id
       |           GROUP BY 1, 2)
       |SELECT doc_a, doc_b, CAST(shared AS BIGINT) AS shared_fp,
       |  round(CAST(shared AS DOUBLE) / least(sa.nsel, sb.nsel), 4) AS overlap
       |FROM shared
       |JOIN sizes sa ON sa.doc_id = doc_a
       |JOIN sizes sb ON sb.doc_id = doc_b
       |WHERE shared >= $WinnowMinShared
       |   OR (shared >= 2 AND CAST(shared AS DOUBLE) / least(sa.nsel, sb.nsel) >= $WinnowMinOverlap)
       |ORDER BY doc_a, doc_b""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_winnow" -> (dedupWinnow _),
    "dedup_containment" -> (dedupContainment _),
    "dedup_novelty" -> (dedupNovelty _),
    "dedup_exact" -> (dedupExact _),
    "dedup_minhash" -> ((s: SparkSession, d: String) => dedupMinhash(s, d)),
    "q_delete_apply" -> (qDeleteApply _),
    "q_delete_economics" -> (qDeleteEconomics _),
    "dedup_artifact_audit" -> (dedupArtifactAudit _),
    "dedup_hashstore_audit" -> (qHashStoreAudit _),
    "dedup_index_audit" -> (dedupIndexAudit _),
    "q_store_consistency" -> (qStoreConsistency _),
    "q_store_repair" -> (qStoreRepair _),
    "q_maintenance_plan" -> (qMaintenancePlan _),
    "dedup_prefix" -> ((s: SparkSession, d: String) => dedupPrefix(s, d)),
    "dedup_threshold_sweep" -> (dedupThresholdSweep _),
    "dedup_lsh_calibration" -> (dedupLshCalibration _),
    "dedup_threshold_sweep_sampled" -> (dedupThresholdSweepSampled _),
    "dedup_lsh_calibration_sampled" -> (dedupLshCalibrationSampled _),
    "dedup_incremental" -> (dedupIncremental _),
    "dedup_simhash" -> ((s: SparkSession, d: String) => dedupSimhash(s, d)),
    "dedup_fuzzy" -> ((s: SparkSession, d: String) => dedupFuzzy(s, d)),
    "dedup_ngram_jaccard" -> (dedupNgramJaccard _),
    "dedup_embedding" -> ((s: SparkSession, d: String) => dedupEmbedding(s, d)),
    "dedup_embedding_lsh" -> (dedupEmbeddingLsh _),
    "dedup_semantic" -> ((s: SparkSession, d: String) => dedupSemantic(s, d)),
    "dedup_spans" -> (dedupSpans _),
    "q_corpus_overlap" -> ((s: SparkSession, d: String) => corpusOverlap(s, d)),
  )

  /** Shared FNV-1a + splitmix-avalanche shingle-hash CTE chain,
    * mirroring [[graft.functions.Sketches.shingleBaseHashes]]
    * byte-for-byte over an arbitrary key column: tokens are the
    * non-empty `\s+` splits (matching the JVM byte-walk on edge
    * whitespace), 3-token shingles serialize as `tok1 tok2 tok3 `
    * (separator AFTER every token), a ZERO-token text serializes as the
    * empty byte string (so its hash is the avalanche of the bare FNV
    * offset, exactly the JVM no-token branch), FNV-1a (offset
    * 0xcbf29ce484222325, prime 0x100000001b3) over the UTF-8 bytes,
    * then the splitmix avalanche. Ends in `sh(<key>, s)` (distinct
    * shingles per key) and `av(s, h)` (avalanched UBIGINT base hash per
    * distinct shingle). ONE definition shared by the simhash and
    * corpus-overlap oracles so the tokenizer/serializer mirroring — the
    * exact class of bug these oracles exist to catch — cannot drift
    * between them.
    */
  /** Tokenization + distinct-3-shingle head of [[shingleHashCtes]],
    * ending in `sh(<key>, s)` — factored so string-level consumers
    * (the novelty oracle) share the ONE WordShingles mirror without
    * paying for the recursive FNV chain.
    */
  private def shingleCtes(key: String, table: String = "documents"): String =
    s"""t AS (
       |  SELECT $key, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS w FROM $table),
       |sh AS (
       |  SELECT DISTINCT $key,
       |    unnest(CASE WHEN len(w) = 0 THEN ['']
       |      WHEN len(w) < 3 THEN [array_to_string(w, ' ') || ' ']
       |      ELSE list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ') END) AS s
       |  FROM t)""".stripMargin

  // private[graft]: the novelty-sketch oracle (streaming.Streaming)
  // consumes the same chain, keeping ONE shingle-hash mirror repo-wide
  private[graft] def shingleHashCtes(key: String, table: String = "documents"): String =
    s"""${shingleCtes(key, table)},
       |us AS (SELECT DISTINCT s FROM sh),
       |sb AS (SELECT s, hex(encode(s)) AS hx, octet_length(encode(s)) AS olen FROM us),
       |fnv AS (
       |  SELECT s, hx, olen, 1 AS pos, CAST(${BigInt("cbf29ce484222325", 16)} AS UBIGINT) AS h FROM sb
       |  UNION ALL
       |  SELECT s, hx, olen, pos + 1,
       |    ${mulMod64("xor(h, CAST('0x' || substr(hx, 2 * pos - 1, 2) AS UBIGINT))", BigInt("100000001b3", 16))}
       |  FROM fnv WHERE pos <= olen),
       |base AS (SELECT s, h FROM fnv WHERE pos = olen + 1),
       |av1 AS (SELECT s, ${mulMod64("xor(h, h >> 30)", BigInt("bf58476d1ce4e5b9", 16))} AS h FROM base),
       |av2 AS (SELECT s, ${mulMod64("xor(h, h >> 27)", BigInt("94d049bb133111eb", 16))} AS h FROM av1),
       |av AS MATERIALIZED (SELECT s, xor(h, h >> 31) AS h FROM av2)""".stripMargin

  /** Full mirror of [[corpusOverlap]]: the shared [[shingleHashCtes]]
    * chain keyed by source, then each of the [[OverlapHashes]] hash
    * families re-mixed per [[graft.functions.Sketches.mix]]
    * (avalanche(h xor i*phi), phi the splitmix64 increment), signed-min
    * per (source, family) over the source's DISTINCT shingle set, and
    * component-agreement fractions per source pair. Every 64-bit step
    * runs in UBIGINT with the multiplies split via [[mulMod64]].
    */
  private lazy val corpusOverlapOracleSql: String = {
    val m = BigInt(1) << 64
    val phi = BigInt("9e3779b97f4a7c15", 16)
    val k = OverlapHashes
    s"""WITH RECURSIVE ${shingleHashCtes("source")},
       |fam AS (SELECT CAST(unnest(range($k)) AS INT) AS i),
       |mx0 AS (SELECT s, i,
       |    xor(h, CAST((CAST(i AS HUGEINT) * $phi) % CAST('$m' AS HUGEINT) AS UBIGINT)) AS h
       |  FROM av CROSS JOIN fam),
       |mx1 AS (SELECT s, i, ${mulMod64("xor(h, h >> 30)", BigInt("bf58476d1ce4e5b9", 16))} AS h FROM mx0),
       |mx2 AS (SELECT s, i, ${mulMod64("xor(h, h >> 27)", BigInt("94d049bb133111eb", 16))} AS h FROM mx1),
       |mx AS (SELECT s, i, xor(h, h >> 31) AS hu FROM mx2),
       |sv AS (SELECT s, i, CAST(CASE WHEN hu >= CAST('${BigInt(1) << 63}' AS HUGEINT)
       |    THEN hu - CAST('$m' AS HUGEINT) ELSE hu END AS BIGINT) AS v FROM mx),
       |sig AS (SELECT sh.source, sv.i, min(sv.v) AS v FROM sh JOIN sv USING (s) GROUP BY 1, 2)
       |SELECT a.source AS src_a, b.source AS src_b,
       |  CAST(sum(CASE WHEN a.v = b.v THEN 1 ELSE 0 END) AS DOUBLE) / $k AS est_jaccard
       |FROM sig a JOIN sig b ON a.i = b.i AND a.source < b.source
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  // the ONE wrapping-multiply emulation lives in MixSql — a private
  // copy here would be exactly the cross-mirror drift the shared
  // object exists to prevent
  private def mulMod64(x: String, k: BigInt): String =
    graft.functions.MixSql.mulMod64(x, k)

  /** Full mirror of [[lshCalibrationDf]]: exact pair truth over the SAME
    * hash-domain shingle sets [[verifyPairs]] walks (the
    * [[shingleHashCtes]] chain — set-equivalent to the string-domain
    * [[jaccardPairsCte]] truth, and the domain whose 128-family minhash
    * the signatures minimize), signatures re-mixed per
    * [[graft.functions.Sketches.mix]] for the PAIR DOCS ONLY (the 128×
    * fan-out never touches the whole corpus), band agreement as
    * 4-component equality, and the estimator mean as exact integer
    * agreement sums. Bin ids floor in DECIMAL in both engines.
    */
  private def lshCalibrationOracleSql(
      table: String = "documents", prelude: String = ""): String = {
    val m = BigInt(1) << 64
    val phi = BigInt("9e3779b97f4a7c15", 16)
    s"""WITH RECURSIVE $prelude${shingleHashCtes("doc_id", table)},
       |dh AS (SELECT DISTINCT sh.doc_id, av.h FROM sh JOIN av USING (s)),
       |sizes AS (SELECT doc_id, count(*) AS n FROM dh GROUP BY 1),
       |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
       |          FROM dh a JOIN dh b ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY 1, 2),
       |pairs AS (SELECT doc_a, doc_b,
       |                 round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 4) AS jaccard
       |          FROM inter
       |          JOIN sizes sa ON sa.doc_id = doc_a
       |          JOIN sizes sb ON sb.doc_id = doc_b
       |          WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5),
       |pd AS (SELECT DISTINCT doc_id FROM (
       |         SELECT doc_a AS doc_id FROM pairs
       |         UNION ALL SELECT doc_b FROM pairs)),
       |fam AS (SELECT CAST(unnest(range($NumHashes)) AS INT) AS i),
       |pdh AS (SELECT dh.doc_id, dh.h FROM dh JOIN pd USING (doc_id)),
       |mx0 AS (SELECT doc_id, i,
       |    xor(h, CAST((CAST(i AS HUGEINT) * $phi) % CAST('$m' AS HUGEINT) AS UBIGINT)) AS h
       |  FROM pdh CROSS JOIN fam),
       |mx1 AS (SELECT doc_id, i, ${mulMod64("xor(h, h >> 30)", BigInt("bf58476d1ce4e5b9", 16))} AS h FROM mx0),
       |mx2 AS (SELECT doc_id, i, ${mulMod64("xor(h, h >> 27)", BigInt("94d049bb133111eb", 16))} AS h FROM mx1),
       |mx AS (SELECT doc_id, i, xor(h, h >> 31) AS hu FROM mx2),
       |sv AS (SELECT doc_id, i, CAST(CASE WHEN hu >= CAST('${BigInt(1) << 63}' AS HUGEINT)
       |    THEN hu - CAST('$m' AS HUGEINT) ELSE hu END AS BIGINT) AS v FROM mx),
       |sig AS (SELECT doc_id, i, min(v) AS v FROM sv GROUP BY 1, 2),
       |cmp AS (SELECT p.doc_a, p.doc_b, a.i // ${NumHashes / Bands} AS band,
       |               sum(CASE WHEN a.v = b.v THEN 1 ELSE 0 END) AS eq
       |        FROM pairs p
       |        JOIN sig a ON a.doc_id = p.doc_a
       |        JOIN sig b ON b.doc_id = p.doc_b AND b.i = a.i
       |        GROUP BY 1, 2, 3),
       |ct AS (SELECT doc_a, doc_b,
       |              max(CASE WHEN eq = ${NumHashes / Bands} THEN 1 ELSE 0 END) AS caught,
       |              CAST(sum(eq) AS BIGINT) AS n_eq
       |       FROM cmp GROUP BY 1, 2),
       |binned AS (SELECT least(CAST(floor(CAST(p.jaccard AS DECIMAL(6,4)) * 10) AS INT), 9) AS b10,
       |                  ct.caught, ct.n_eq
       |           FROM pairs p JOIN ct USING (doc_a, doc_b))
       |SELECT CAST(b10 AS DOUBLE) / 10 AS bin_lo,
       |       CAST(count(*) AS BIGINT) AS n_pairs,
       |       CAST(sum(caught) AS BIGINT) AS n_caught,
       |       round(CAST(sum(caught) AS DOUBLE) / count(*), 4) AS catch_rate,
       |       round(CAST(sum(n_eq) AS DOUBLE) / (count(*) * $NumHashes), 4) AS est_jaccard_mean
       |FROM binned GROUP BY b10 ORDER BY bin_lo""".stripMargin
  }

  /** See the `dedup_simhash` entry in [[oracles]]. The shared
    * [[shingleHashCtes]] chain keyed by doc_id (byte-for-byte mirror of
    * [[graft.functions.Sketches.shingleBaseHashes]] — serialization and
    * edge cases documented there), then
    * [[graft.functions.Sketches.simhash]]'s distinct-hash bit votes
    * build the signed 64-bit simhash.
    */
  private lazy val simhashOracleSql: String = {
    val m = BigInt(1) << 64
    s"""WITH RECURSIVE ${shingleHashCtes("doc_id")},
       |dh AS (SELECT DISTINCT sh.doc_id, av.h FROM sh JOIN av USING (s)),
       |bits AS (SELECT CAST(unnest(range(64)) AS INT) AS bit),
       |votes AS (
       |  SELECT doc_id, bit,
       |    sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
       |  FROM dh CROSS JOIN bits GROUP BY 1, 2),
       |sim_u AS (
       |  SELECT doc_id, sum(CASE WHEN v > 0 THEN CAST(CAST(1 AS UBIGINT) << bit AS HUGEINT) ELSE 0 END) AS hu
       |  FROM votes GROUP BY doc_id),
       |sim AS (
       |  SELECT doc_id,
       |    CAST(CASE WHEN hu >= CAST('${BigInt(1) << 63}' AS HUGEINT)
       |      THEN hu - CAST('$m' AS HUGEINT) ELSE hu END AS BIGINT) AS simhash
       |  FROM sim_u)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
       |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** DuckDB CTE chain ending in `pairs(doc_a, doc_b, jaccard)` — the
    * exact all-pairs word-3-gram jaccard ≥ `threshold` truth (the filter
    * is on the UNROUNDED quotient, the emitted jaccard rounds to 4, both
    * mirroring [[verifyPairs]]). Instantiated at 0.8 as
    * [[minhashPairsCte]] and at the sweep floor by the
    * `dedup_threshold_sweep` oracle.
    */
  def jaccardPairsCte(threshold: Double, table: String = "documents"): String = {
    val t = BigDecimal(threshold.toString).bigDecimal.toPlainString
    s"""t AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM $table),
       |sh AS (
       |  SELECT doc_id, unnest(list_distinct(CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
       |    ELSE list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END)) AS s
       |  FROM t),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT doc_a, doc_b,
       |         round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 4) AS jaccard,
       |         CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jraw
       |  FROM inter
       |  JOIN sizes sa ON sa.doc_id = doc_a
       |  JOIN sizes sb ON sb.doc_id = doc_b
       |  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= $t)""".stripMargin
  }

  /** The 0.8-threshold instance — shared by the `dedup_minhash` oracle and
    * the `dedup_cluster` transitive closure ([[Cluster]]), so the pair
    * semantics cannot drift between them.
    */
  val minhashPairsCte: String = jaccardPairsCte(0.8)

  /** The exact pair truth instantiated at the grid floor over `table`;
    * the grid join mirrors the Spark explode (each pair contributes
    * both endpoints, so n_pairs = rows // 2), zero-pair grid rows
    * survive via the left join, and the fraction denominator is
    * `table`'s row count (the corpus for the exact sweep, the sample
    * for the sampled one).
    */
  private def thresholdSweepOracleSql(
      table: String = "documents", prelude: String = ""): String = {
    val grid = SweepGrid.map(t => BigDecimal(t.toString).bigDecimal.toPlainString)
      .mkString("[", ", ", "]")
    s"""WITH $prelude${jaccardPairsCte(SweepGrid.head, table)},
       |nd AS (SELECT count(*) AS n_docs FROM $table),
       |grid AS (SELECT CAST(unnest($grid) AS DOUBLE) AS threshold),
       |e AS (SELECT g.threshold AS threshold, unnest([p.doc_a, p.doc_b]) AS d
       |      FROM pairs p JOIN grid g ON p.jraw >= g.threshold),
       |agg AS (SELECT threshold,
       |               CAST(count(*) // 2 AS BIGINT) AS n_pairs,
       |               CAST(count(DISTINCT d) AS BIGINT) AS n_docs_affected
       |        FROM e GROUP BY threshold)
       |SELECT g.threshold AS threshold,
       |       CAST(COALESCE(n_pairs, 0) AS BIGINT) AS n_pairs,
       |       CAST(COALESCE(n_docs_affected, 0) AS BIGINT) AS n_docs_affected,
       |       round(CAST(COALESCE(n_docs_affected, 0) AS DOUBLE) / n_docs, 6) AS dup_doc_frac
       |FROM grid g LEFT JOIN agg ON g.threshold = agg.threshold
       |CROSS JOIN nd
       |ORDER BY threshold""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // rewrite-vs-tombstone economics over the one pair truth: pure
    // integer arithmetic on corpus/delete/pair counts, mirroring the
    // Spark legs (35 = 32 band rows + shingle + hash + manifest row per
    // surviving doc)
    "q_delete_economics" ->
      s"""WITH $minhashPairsCte,
         |del AS (SELECT doc_id FROM documents WHERE source = 'src7'),
         |ag AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus,
         |              (SELECT CAST(count(*) AS BIGINT) FROM del) AS n_deleted
         |       FROM documents),
         |pg AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         |              CAST(count(CASE WHEN doc_a IN (SELECT doc_id FROM del)
         |                              OR doc_b IN (SELECT doc_id FROM del)
         |                              THEN 1 END) AS BIGINT) AS n_pairs_dropped
         |       FROM pairs)
         |SELECT n_corpus, n_deleted, n_pairs, n_pairs_dropped,
         |       35 * (n_corpus - n_deleted) + (n_pairs - n_pairs_dropped)
         |         AS rewrite_rows,
         |       n_deleted AS tombstone_rows,
         |       round(CAST(35 * (n_corpus - n_deleted) + (n_pairs - n_pairs_dropped)
         |             AS DOUBLE) / greatest(n_deleted, 1), 4) AS write_amplification,
         |       (35 * (n_corpus - n_deleted) + (n_pairs - n_pairs_dropped)
         |         + n_deleted - 1) // greatest(n_deleted, 1) AS break_even_reads
         |FROM ag CROSS JOIN pg""".stripMargin,
    // healthy sketch index: exactly Bands band rows + one shingle row
    // per doc, all violation counts pinned zero, sample rule mirrored
    "dedup_index_audit" ->
      s"""WITH ${graft.functions.MixSql.hashSampleCtes("sw", "documents", "doc_id", SweepSampleDocs)}
         |SELECT CAST($Bands * count(*) AS BIGINT) AS n_band_rows,
         |       CAST(count(*) AS BIGINT) AS n_shingle_rows,
         |       CAST(0 AS BIGINT) AS n_band_dups,
         |       CAST(0 AS BIGINT) AS n_shingle_multi,
         |       CAST(0 AS BIGINT) AS n_missing,
         |       CAST(0 AS BIGINT) AS n_orphans,
         |       CAST(0 AS BIGINT) AS n_band_incomplete,
         |       (SELECT CAST(count(*) AS BIGINT) FROM swsamp) AS sample_n,
         |       CAST(0 AS BIGINT) AS n_band_mismatch,
         |       CAST(0 AS BIGINT) AS n_shingle_mismatch
         |FROM documents""".stripMargin,
    // the healthy-state expectation: a maintained artifact's
    // sample-internal slice equals the sample recompute exactly (pair
    // emission is pairwise), so both counts agree and drift is 0/0 —
    // any artifact corruption fails the Spark side's hash against this
    "dedup_artifact_audit" ->
      s"""WITH $sampledDocsCtes,
         |${jaccardPairsCte(0.8, "documents_s")},
         |ns AS (SELECT count(*) AS n FROM documents_s),
         |np AS (SELECT count(*) AS p FROM pairs)
         |SELECT CAST(n AS BIGINT) AS n_sample_docs,
         |       CAST(p AS BIGINT) AS n_artifact_pairs,
         |       CAST(p AS BIGINT) AS n_recomputed_pairs,
         |       CAST(0 AS BIGINT) AS n_missing,
         |       CAST(0 AS BIGINT) AS n_extra
         |FROM ns CROSS JOIN np""".stripMargin,
    // healthy maintained state audits to all-zero violations (pinned
    // literals); volume, the batch rule (doc_id mod 3), and the sample
    // rule are computed, mirroring the Spark legs
    "dedup_hashstore_audit" ->
      s"""WITH ${graft.functions.MixSql.hashSampleCtes("sw", "documents", "doc_id", SweepSampleDocs)}
         |SELECT CAST(count(*) AS BIGINT) AS n_store,
         |       CAST(count(DISTINCT doc_id % 3) AS BIGINT) AS n_batches,
         |       CAST(0 AS BIGINT) AS n_multi,
         |       CAST(0 AS BIGINT) AS n_missing,
         |       CAST(0 AS BIGINT) AS n_orphans,
         |       (SELECT CAST(count(*) AS BIGINT) FROM swsamp) AS sample_n,
         |       CAST(0 AS BIGINT) AS n_hash_mismatch
         |FROM documents""".stripMargin,
    // cross-store drift is 0 on healthy state (pinned); volumes are
    // computed — hash store and manifest both cover every document,
    // and the pair count is the standing 0.8 verified-pair truth
    "q_store_consistency" ->
      s"""WITH $minhashPairsCte
         |SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_hash,
         |       (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_manifest,
         |       (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS n_pairs,
         |       CAST(0 AS BIGINT) AS n_manifest_not_hash,
         |       CAST(0 AS BIGINT) AS n_hash_not_manifest,
         |       CAST(0 AS BIGINT) AS n_pair_endpoints_unregistered""".stripMargin,
    // the repair PLAN over the same healthy staged stores: all removal
    // legs pin to zero and the post-repair sizes equal the store sizes,
    // so a repair that would touch a healthy store fails the hash gate
    "q_store_repair" ->
      s"""WITH $minhashPairsCte
         |SELECT CAST(0 AS BIGINT) AS n_hash_dups_removed,
         |       CAST(0 AS BIGINT) AS n_manifest_dups_removed,
         |       CAST(0 AS BIGINT) AS n_pair_dups_removed,
         |       CAST(0 AS BIGINT) AS n_hash_drift_removed,
         |       CAST(0 AS BIGINT) AS n_manifest_drift_removed,
         |       CAST(0 AS BIGINT) AS n_pair_orphans_removed,
         |       (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_hash,
         |       (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_manifest,
         |       (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS n_pairs""".stripMargin,
    // the decide layer's healthy expectation: six maintained stores,
    // zero violations in both remedy classes, nothing scheduled — a
    // plan that would touch a healthy store fails the hash gate
    "q_maintenance_plan" ->
      """SELECT * FROM (VALUES
        |  ('codes',    CAST(0 AS BIGINT), CAST(0 AS BIGINT), 'none'),
        |  ('features', CAST(0 AS BIGINT), CAST(0 AS BIGINT), 'none'),
        |  ('hashes',   CAST(0 AS BIGINT), CAST(0 AS BIGINT), 'none'),
        |  ('index',    CAST(0 AS BIGINT), CAST(0 AS BIGINT), 'none'),
        |  ('ivfpq',    CAST(0 AS BIGINT), CAST(0 AS BIGINT), 'none'),
        |  ('layout',   CAST(0 AS BIGINT), CAST(0 AS BIGINT), 'none'),
        |  ('manifest', CAST(0 AS BIGINT), CAST(0 AS BIGINT), 'none'),
        |  ('packed',   CAST(0 AS BIGINT), CAST(0 AS BIGINT), 'none'),
        |  ('pairs',    CAST(0 AS BIGINT), CAST(0 AS BIGINT), 'none'),
        |  ('xstore',   CAST(0 AS BIGINT), CAST(0 AS BIGINT), 'none'))
        |  AS t(store, n_structural, n_rot, action)
        |ORDER BY store""".stripMargin,
    "dedup_lsh_calibration" -> lshCalibrationOracleSql(),
    // the SAME calibration chain over the splitmix64-hash-ordered
    // document sample (sampledDocsCtes — the Ivf/Pq training-sample
    // discipline, so the sample rule has ONE oracle mirror repo-wide)
    "dedup_lsh_calibration_sampled" ->
      lshCalibrationOracleSql("documents_s", sampledDocsCtes + ",\n"),
    "dedup_winnow" -> winnowPairsSql,
    // string-level mirror of the hashed-shingle profile: same distinct
    // trailing-space shingle construction as the minhash base hashes
    "dedup_novelty" ->
      s"""WITH ${shingleCtes("doc_id")},
         |dfr AS (SELECT s, count(*) AS df FROM sh GROUP BY s)
         |SELECT doc_id, count(*) AS n_shingles,
         |       round(CAST(sum(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS dup_frac
         |FROM sh JOIN dfr USING (s)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_corpus_overlap" -> corpusOverlapOracleSql,
    // asymmetric containment over the same distinct word-3-shingle
    // construction as the jaccard CTEs; source side scoped to
    // excerpt-sized docs, denominator is the SOURCE's shingle count
    "dedup_containment" ->
      """WITH t AS (SELECT doc_id, n_chars, string_split_regex(trim(text), '\s+') AS w FROM documents),
        |sh AS (SELECT doc_id, n_chars, unnest(list_distinct(CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
        |        ELSE list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END)) AS s
        |       FROM t),
        |informative AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 256),
        |a AS (SELECT doc_id, sh.s FROM sh JOIN informative USING (s) WHERE n_chars < 400),
        |asize AS (SELECT doc_id, count(*) AS n_src FROM a GROUP BY 1),
        |inter AS (SELECT a.doc_id AS src_id, b.doc_id AS dst_id, count(*) AS i
        |          FROM a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id GROUP BY 1, 2)
        |SELECT src_id, dst_id, round(CAST(i AS DOUBLE) / n_src, 4) AS containment
        |FROM inter JOIN asize ON asize.doc_id = src_id
        |WHERE CAST(i AS DOUBLE) / n_src >= 0.5
        |ORDER BY src_id, dst_id""".stripMargin,
    // content-anchored 48-char window hashes (window starts where the
    // leading-trigram multiplicative hash lands in the low 1/16 of the
    // 32-bit range) — copies collide regardless of offset
    "dedup_spans" ->
      """WITH spans AS (
        |  SELECT doc_id,
        |         unnest(generate_series(1, CAST(n_chars AS BIGINT) - 47)) AS p,
        |         text
        |  FROM documents WHERE n_chars >= 48),
        |anchored AS (
        |  SELECT doc_id, md5(substr(text, CAST(p AS INT), 48)) AS span_hash
        |  FROM spans
        |  WHERE ((961 * ascii(substr(text, CAST(p AS INT), 1))
        |        + 31 * ascii(substr(text, CAST(p AS INT) + 1, 1))
        |        + ascii(substr(text, CAST(p AS INT) + 2, 1))) * 2654435761)
        |        % 4294967296 < 268435456)
        |SELECT span_hash, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ,
        |       min(doc_id) AS first_doc
        |FROM anchored GROUP BY span_hash HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY n_docs DESC, span_hash""".stripMargin,
    "dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS n_copies, md5(text) AS content_hash
        |FROM documents GROUP BY md5(text) ORDER BY doc_id""".stripMargin,
    // exact all-pairs truth for the LSH pipeline (recall ≈ 1 at j≥0.8)
    "dedup_minhash" ->
      s"""WITH $minhashPairsCte
         |SELECT doc_a, doc_b, jaccard FROM pairs
         |ORDER BY doc_a, doc_b""".stripMargin,
    // prefix filtering has recall exactly 1 by construction, so it is
    // held to the SAME exact truth as dedup_minhash
    "dedup_prefix" ->
      s"""WITH $minhashPairsCte
         |SELECT doc_a, doc_b, jaccard FROM pairs
         |ORDER BY doc_a, doc_b""".stripMargin,
    // the same exact pair truth instantiated at the grid floor; the grid
    // join mirrors the Spark explode (each pair contributes both
    // endpoints, so n_pairs = rows // 2) and zero-pair grid rows survive
    // via the left join
    "dedup_threshold_sweep" -> thresholdSweepOracleSql(),
    // identical sweep over the hash-sample (the sample rule's ONE
    // mirror, sampledDocsCtes); the fraction denominator is the sample
    "dedup_threshold_sweep_sampled" ->
      thresholdSweepOracleSql("documents_s", sampledDocsCtes + ",\n"),
    // the incremental run must emit exactly the pairs touching the new
    // batch (doc_id >= 250) — same exact truth, filtered
    "dedup_incremental" ->
      s"""WITH $minhashPairsCte
         |SELECT doc_a, doc_b, jaccard FROM pairs
         |WHERE doc_a >= 250 OR doc_b >= 250
         |ORDER BY doc_a, doc_b""".stripMargin,
    // brute-force quadratic truth for the PassJoin segment filter —
    // recall 1 is a theorem, so the filtered join must equal all-pairs
    "dedup_fuzzy" ->
      """WITH t AS (
        |  SELECT doc_id, substr(text, 1, 40) AS t
        |  FROM documents WHERE length(text) >= 40)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       levenshtein(a.t, b.t) AS dist
        |FROM t a JOIN t b ON a.doc_id < b.doc_id
        |WHERE levenshtein(a.t, b.t) <= 2
        |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_ngram_jaccard" ->
      """SELECT a.lang, a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       round(jaccard(a.text, b.text), 4) AS jaccard
        |FROM documents a JOIN documents b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |ORDER BY jaccard DESC, doc_a, doc_b LIMIT 100""".stripMargin,
    "dedup_embedding" ->
      """SELECT a.label, a.vec_id AS vec_a, b.vec_id AS vec_b,
        |       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cosine
        |FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
        |ORDER BY cosine DESC, vec_a, vec_b LIMIT 50""".stripMargin,
    // the full SimHash pipeline reproduced in SQL: FNV-1a per shingle
    // via a recursive CTE over byte positions (wraparound multiply in
    // split 32-bit halves — a 64x64 product overflows INT128), the
    // splitmix-style avalanche as UBIGINT shift/xor + the same split
    // multiplies, distinct-hash bit votes, and the signed-long simhash.
    // The oracle then takes ALL pairs at hamming <= 3 directly: the
    // 4-chunk pigeonhole the Spark side uses for candidate generation
    // has recall exactly 1 at this radius, so the outputs coincide.
    "dedup_simhash" -> simhashOracleSql,
    // the IVF assignment recomputed by the unrolled-Lloyd's oracle
    // (Ivf.kmeansCte — bit-identical centroids, see its scaladoc);
    // within-list pairs at cosine >= tau, higher id dropped
    "dedup_semantic" ->
      s"""WITH ${Ivf.kmeansCte()},
         |drops AS (
         |  SELECT DISTINCT a.list_id, b.vec_id
         |  FROM lists a JOIN lists b ON a.list_id = b.list_id AND a.vec_id < b.vec_id
         |  JOIN embeddings ea ON ea.vec_id = a.vec_id
         |  JOIN embeddings eb ON eb.vec_id = b.vec_id
         |  WHERE list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) >= 0.92),
         |nd AS (SELECT list_id, count(*) AS n_dropped FROM drops GROUP BY list_id)
         |SELECT l.list_id, count(*) AS n_vecs, coalesce(min(nd.n_dropped), 0) AS n_dropped
         |FROM lists l LEFT JOIN nd ON l.list_id = nd.list_id
         |GROUP BY l.list_id ORDER BY l.list_id""".stripMargin,
    // multi-probe candidate semantics closed-form: (a, b) is a candidate
    // iff their SRP signatures differ in at most one bit (own bucket +
    // every Hamming-1 probe) — signatures recomputed in SQL from the
    // data-independent hyperplane table, following the SAME autoBits
    // staircase as the Spark side (Similarity.srpSigCteAuto computes
    // bits from the corpus count in exact integer arithmetic), so the
    // oracle is exact in the staircase regime too, not just at the
    // 12-bit floor
    "dedup_embedding_lsh" ->
      s"""WITH ${Similarity.srpSigCteAuto(occupancy = 8L, floor = Similarity.LshBits)}
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |       round(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 4) AS cosine
         |FROM sig a JOIN sig b
         |  ON bit_count(xor(a.bucket, b.bucket)) <= 1 AND a.vec_id < b.vec_id
         |JOIN embeddings ea ON ea.vec_id = a.vec_id
         |JOIN embeddings eb ON eb.vec_id = b.vec_id
         |ORDER BY cosine DESC, vec_a, vec_b LIMIT 50""".stripMargin,
  )
}

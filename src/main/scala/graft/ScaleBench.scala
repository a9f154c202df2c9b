package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale rehearsal: measure the heavy dedup/ANN/packing pipelines on a
  * deterministically expanded corpus (1x/3x/10x the sf0.1 tables) so the
  * 100 TB design claims rest on observed scaling curves, not plan shape
  * alone. Results land in BENCH_SCALE.md.
  *
  * Expansion preserves the WORKLOAD character rather than photocopying
  * rows:
  *
  *  - documents: replica k applies an affine letter permutation
  *    ([[affinePerm]], 312 distinct maps; replicas 1..25 are plain
  *    rotations), so every token — and therefore every shingle,
  *    minhash band, simhash vote, and suffix window — differs across
  *    replicas while the INTRA-replica near-duplicate structure is
  *    preserved exactly (length, whitespace, and duplicate topology are
  *    invariant under a letter substitution). Verbatim replication would
  *    instead give every document N-1 exact copies and blow candidate
  *    pair counts up quadratically — a different (and unrealistic)
  *    workload. True pair count scales exactly N-fold up to x312.
  *  - embeddings: replica k applies an isometry (dimension rotation +
  *    hash-derived sign flips, see [[expandEmbeddings]]) — distinct
  *    points with the same intra-replica geometry, decorrelated SRP
  *    buckets across replicas; vec_ids shift by k*10M.
  *
  * Replicas are a UNION of per-k literal projections (translate needs a
  * literal mapping), which Spark plans as factor parallel scans of the
  * small source file — negligible against the pipelines being measured.
  */
object ScaleBench {

  private val Alpha = "abcdefghijklmnopqrstuvwxyz"

  // The 12 residues coprime to 26 — the valid multipliers of an affine
  // letter cipher i -> (a*i + b) mod 26.
  private val Coprimes = Seq(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)

  /** Replica k's letter permutation: affine cipher with a = Coprimes(k/26
    * mod 12), b = k mod 26 — 312 PAIRWISE-DISTINCT permutations (distinct
    * (a,b) ⇒ distinct map), so no replica pair up to x312 shares its
    * full letter map. Two perms with equal b still agree on their
    * fixed-point letters (e.g. every b=0 map fixes 'a'), so isolated
    * cross-replica shingle matches over those letters remain possible —
    * statistically negligible, unlike the BYTE-IDENTICAL replicas plain
    * rotation produces past x26. Rotation (the original design) has only
    * 26 distinct transforms: beyond x26, same-rotation replicas are
    * byte-identical, cross-replica EXACT duplicates appear, and the true
    * near-dup pair count grows ~quadratically in factor/26 — the first
    * x100 rehearsal measured exactly that artifact (dedup_containment
    * 31.6 -> 358 s, exponent 2.0) before this fix. Replica 0 is the
    * identity (a=1, b=0); replicas 1..25 are the original rotations.
    */
  def affinePerm(k: Int): String = {
    val a = Coprimes((k / 26) % Coprimes.size)
    val b = k % 26
    (0 until 26).map(i => ('a' + ((a * i + b) % 26)).toChar).mkString
  }

  def expandDocuments(spark: SparkSession, srcDir: String, factor: Int): DataFrame = {
    require(factor <= 312, "affine letter permutations are distinct only up to x312")
    val src = Tables.documents(spark, srcDir)
    (0 until factor).map { k =>
      src.select(
        (col("doc_id") + lit(k.toLong * 10_000_000L)).as("doc_id"),
        translate(col("text"), Alpha, affinePerm(k)).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_.unionAll(_))
  }

  /** Replica k's embedding transform is an ISOMETRY — a dimension
    * rotation (i → i+7k mod d) composed with hash-derived per-dimension
    * sign flips — the embedding-space analog of [[affinePerm]]: every
    * intra-replica dot product and norm is preserved as a multiset of
    * products (exact up to FP summation order — sign flips and
    * permutations are exact float ops), so the dedup/ANN structure
    * inside each replica is faithful, while cross-replica points land
    * in decorrelated SRP buckets. The first
    * design (±3% component perturbation) kept replicas in the SAME
    * signature buckets, so bucket occupancy — and therefore in-bucket
    * candidate pairs — grew quadratically with factor: the x100 knn
    * rehearsal measured exponent ~2 from that artifact alone, with no
    * engine defect. Distinct transforms: d rotations × 2^d sign
    * patterns, far past any factor this harness stages.
    */
  def expandEmbeddings(spark: SparkSession, srcDir: String, factor: Int): DataFrame = {
    val src = Tables.embeddings(spark, srcDir)
    val d = src.select(size(col("embedding"))).first().getInt(0)
    (0 until factor).map { k =>
      val rot = (7 * k) % d
      src.select(
        (col("vec_id") + lit(k.toLong * 10_000_000L)).as("vec_id"),
        expr(
          s"""transform(sequence(0, ${d - 1}), i ->
             |  element_at(embedding, ((i + $rot) % $d) + 1) *
             |  cast(1 - 2 * pmod(hash(i + ${k * 97}), 2) as float))""".stripMargin)
          .as("embedding"),
        col("label"))
    }.reduce(_.unionAll(_))
  }

  /** Replica k of the events table: event/user ids offset by k*10M (the
    * user DOMAIN grows factor-fold, so distinct counts — what the HLL
    * family estimates — scale with the corpus), timestamps unchanged
    * (same retention window: the per-hour/per-day group COUNT stays
    * fixed while each group's cardinality grows, exactly the
    * sketch-warehouse shape where registers saturate rather than groups
    * multiplying).
    */
  def expandEvents(spark: SparkSession, srcDir: String, factor: Int): DataFrame = {
    val src = Tables.events(spark, srcDir)
    if (factor > 1) {
      // the k*10M replica offsets assume source ids fit below 10M; a
      // larger corpus would silently collide replica id ranges and
      // undercount the distincts the HLL curves measure — fail loudly
      // instead (one tiny aggregate over the small source, pre-staging)
      // max() is NULL on an empty source — no rows means no possible
      // collision, so fold that into a pass instead of an NPE
      val mx = Option(src.agg(greatest(max(col("event_id")), max(col("user_id")))
        .cast("long")).first().get(0)).map(_.asInstanceOf[Long])
      mx.foreach(m => require(m < 10_000_000L,
        s"expandEvents replica offset (10M) collides: max source id $m"))
    }
    (0 until factor).map { k =>
      src.select(
        (col("event_id") + lit(k.toLong * 10_000_000L)).as("event_id"),
        col("ts"),
        (col("user_id") + lit(k.toLong * 10_000_000L)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_.unionAll(_))
  }

  /** Stage an expanded corpus under `outDir` with the testdata layout
    * (documents.parquet / embeddings.parquet / events.parquet
    * directories), so every `(spark, dir)` query entry runs against it
    * unchanged.
    */
  def stage(spark: SparkSession, srcDir: String, outDir: String, factor: Int): Unit = {
    expandDocuments(spark, srcDir, factor)
      .repartition(32).write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    expandEmbeddings(spark, srcDir, factor)
      .repartition(32).write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    expandEvents(spark, srcDir, factor)
      .repartition(32).write.mode("overwrite").parquet(s"$outDir/events.parquet")
  }

  val HeavyQueries = Seq(
    "dedup_minhash", "dedup_suffix", "dedup_containment", "dedup_winnow",
    "split_cluster_safe", "ann_ivfpq_search", "q_pack_sequences",
    "text_boilerplate", "ann_knn_graph", "dedup_novelty", "text_drift",
    // per-key cap: expansion preserves the 20 sources, so each source
    // grows factor-fold — the hot-key shape the threshold path targets
    "q_domain_cap", "q_token_budget",
    "containment_candidates", "knn_autobits_candidates", "minhash_pairs",
    "winnow_pairs", "sweep_candidates", "ann_bitext_mine", "bitext_candidates",
    "q_corpus_build",
    // the sketch-warehouse family: per-group registers saturate as the
    // user domain grows factor-fold while the group count stays fixed;
    // the histogram twins' bucket counts are value-range-bounded
    "q_hll_union", "q_hll_view", "q_stream_distinct",
    "q_hist_view", "q_stream_hist",
    // round-12 evaluation queries: the sweep's pair table scales N-fold
    // exactly under the affine expansion (intra-replica dup topology
    // preserved, no cross-replica pairs); auc's rank aggregate is
    // bounded by distinct score rationals; heaps' first-occurrence
    // aggregate is vocab-sized; nb_margin shares the NB model shape;
    // the calibration shares the sweep's pair truth; the novelty
    // sketch, PQ distortion, and split report are one-pass +
    // bounded-aggregate shapes
    "dedup_threshold_sweep", "text_auc", "text_heaps", "text_nb_margin",
    "dedup_lsh_calibration", "q_stream_novelty", "ann_pq_distortion",
    "q_split_report",
    // round-13 sampled knob sweeps: the pair pass is bounded by the
    // FIXED hash sample, so cost at x100 is the TakeOrdered sample draw
    // plus a constant — the form of these measurements that stays
    // runnable at 100 TB
    "dedup_threshold_sweep_sampled", "dedup_lsh_calibration_sampled",
    // round-13: the ingest funnel rides dedup_minhash's pair pipeline +
    // the gram join + one signal scan; the PQ curve is 3 bounded-sample
    // trainings + per-M single-pass scoring
    "q_stream_corpus_build", "ann_pq_curve",
    // round-13: index-aging report + its ingest monitor — each ONE
    // corpus assignment scan into a ≤10×k-group aggregate; the
    // training sample stays bounded
    "ann_ivf_drift", "q_stream_ivf_drift",
    // round-13: rides the checkpointed pair table + one corpus count join
    "dedup_policy_gap",
    // round-13: one manifest prefix-sum pass + the pair pipeline; every
    // metric leg is a bounded aggregate
    "q_delete_impact",
    // round-14: the artifact readers (policy gap / delete impact /
    // split_cluster_safe / corpus build above now read the staged pair
    // artifact — their curves measure REPORT cost); reconcile is
    // pair-sized closure work; delete apply stages + rewrites the
    // stores (one anti-join pass each); retrain delta is two bounded
    // trainings + one double-assignment corpus scan
    "q_reconcile", "q_delete_apply", "ann_retrain_delta",
    // round-14: two corpus-scan aggregates, no window, 1-row output
    "q_repack_delta",
    // round-14: the served IVF search — probe-pruned reads of the
    // staged list-partitioned layout (the point-lookup scale shape)
    "ann_ivf_search_served",
    // round-14: sample²-bounded recompute + one endpoint-filtered
    // artifact scan — the constant-cost audit shape
    "dedup_artifact_audit",
    // round-14 late: the other two store audits (store-sized linear
    // passes + sample-bounded recomputes), the partition-granular
    // backfill (delta-sized work after a listing-level diff), the two
    // code-table serving searches (code bytes instead of floats; the
    // IVFPQ form adds partition pruning), and the sampled CI (sample
    // legs constant; the demo exact leg is the one linear term)
    "q_manifest_audit", "dedup_hashstore_audit", "q_backfill",
    "ann_pq_search_served", "ann_ivfpq_search_served", "q_sample_ci",
    // round-14 late: three store-frame anti-joins, corpus never read
    "q_store_consistency",
    // round-14 late: the repair PLAN over the same stores — store-keyed
    // groupBys + two distinct-id sets + semi/anti joins, corpus never read
    "q_store_repair",
    // round-14 late: the serving-layout audit — store-sized linear legs
    // + the fixed-sample reassignment check
    "ann_layout_audit",
    // round-14 late: retrain executed against scratch serving state —
    // the registered entry times staging (layout write) + two
    // assignment passes + the partitioned rewrite, all corpus-linear
    "ann_retrain_apply",
    // round-14 late: the PQ code-table audit — linear store legs + the
    // fixed-sample re-encode check
    "ann_codes_audit",
    // round-14 late: the decide layer — all six audits in one query
    "q_maintenance_plan",
    // round-15: the tombstone takedown twin (merge-on-read: delete-set
    // append + broadcast anti-joins on the pair artifact, NO store
    // rewrite — its curve against q_delete_apply IS the economics) and
    // the closed-form break-even report (one pair scan + corpus counts)
    "q_delete_tombstone", "q_delete_economics",
    // round-15: the four previously-unaudited maintained artifacts —
    // store-sized linear legs + fixed-sample recomputes, the constant-
    // cost audit shape (the index audit's sample leg re-sketches only
    // the bounded draw)
    "dedup_index_audit", "ann_ivfpq_layout_audit", "q_packed_audit",
    "q_backfill_audit",
    // round-15: the tombstoned served search — partition-pruned reads
    // plus one broadcast anti-join; the merge-on-read point-lookup shape
    "ann_ivf_search_tombstoned",
    // round-16: the tombstone-served pack manifest — prefix rows pass
    // through from the stored manifest, only the affected suffix (the
    // top doc_id decile under the entry's tail takedown) repacks, so
    // the curve should track ~1/10th of q_pack_sequences' window work
    "q_manifest_served")

  /** Candidate-volume probes: count the bucket-join rows the heavy
    * pipelines actually generate. At x100 on ONE box the timed curves
    * conflate algorithmic growth with single-box saturation (round-12
    * instrumentation: NOT spill — zero spill bytes measured — but
    * cache-residency of per-task aggregation state plus virtualized-
    * host wall-time dispersion); these counts measure the work itself,
    * which the df cap / bits knob bound linearly in corpus size.
    */
  private def containmentCandCount(spark: SparkSession, dir: String): DataFrame =
    ext.Dedup.containmentCandidateRows(Tables.documents(spark, dir))
      .groupBy().agg(count(lit(1)).as("n_candidates"))

  private def knnCandCount(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.embeddings(spark, dir).count()
    // exactly the rows the registered annKnnGraph (autoBits default
    // since round 11) scores — shared definition, no drift
    ext.Similarity.knnCandidateRows(spark, dir, ext.Similarity.autoBits(n))
      .groupBy().agg(count(lit(1)).as("n_candidates"))
  }

  /** Scale-only entries not on the driver surface (knob demonstrations
    * and candidate-volume probes).
    */
  private def bitextCandCount(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.embeddings(spark, dir).count()
    ext.Similarity.bitextCandidateRows(Tables.embeddings(spark, dir),
        ext.Similarity.bitextAutoBits(n))
      .groupBy().agg(count(lit(1)).as("n_candidates"))
  }

  val Extras: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bitext_candidates" -> (bitextCandCount _),
    "containment_candidates" -> (containmentCandCount _),
    "knn_autobits_candidates" -> (knnCandCount _),
    // the edge list split_cluster_safe's CC propagation iterates over
    "minhash_pairs" -> ((s: SparkSession, d: String) =>
      ext.Dedup.dedupMinhash(s, d).groupBy().agg(count(lit(1)).as("n_candidates"))),
    // reported winnow pair volume: linear (N-fold) under the affine
    // expansion because fingerprints never cross replicas
    "winnow_pairs" -> ((s: SparkSession, d: String) =>
      ext.Dedup.dedupWinnow(s, d).groupBy().agg(count(lit(1)).as("n_candidates"))),
    // exactly the candidate pairs the threshold sweep's prefix filter
    // (t = grid floor 0.5) generates and verifies
    "sweep_candidates" -> ((s: SparkSession, d: String) =>
      ext.Dedup.prefixCandidates(graft.Tables.documents(s, d), 0.5)
        .groupBy().agg(count(lit(1)).as("n_candidates"))))

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val factors = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTORS", "1,3,10")
      .split(",").map(_.trim.toInt).toSeq
    // Dev loop: restrict to a query subset (e.g. the steepest curves at
    // a larger factor without paying for the flat ones)
    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY").map(_.split(",").toSet)
    val heavy = only.fold(HeavyQueries)(s => HeavyQueries.filter(s))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    // Partition scaling knob: with SPARK_GRAFT_SCALE_PART_PER_X set
    // (partitions per unit factor, e.g. 3.2 -> 96 at x30 / 320 at
    // x100), each factor's run sets spark.sql.shuffle.partitions
    // proportional to the staged corpus. Round-12 measurements showed
    // this knob is mostly a NO-OP for reduce width (AQE coalesces back
    // to the 64 MB advisory size — 320 -> 34 tasks observed) and
    // actively regressive for range exchanges (dedup_suffix 3.2x: the
    // RangePartitioner's sampling pass and file churn scale with the
    // requested width). The knob that reaches the real term is
    // spark.sql.adaptive.advisoryPartitionSizeInBytes (see
    // GraftSession and BENCH_SCALE.md round 12); PART_PER_X is kept to
    // make initialPartitionNum large enough for AQE to split finely.
    val partPerX = sys.env.get("SPARK_GRAFT_SCALE_PART_PER_X").map(_.toDouble)
    // A fixed root (SPARK_GRAFT_SCALE_ROOT) lets repeated measurement
    // runs REUSE an already-staged corpus instead of re-writing ~GBs
    // per invocation: staging IO perturbs the page cache the measured
    // query then runs against, which is exactly the noise an A/B
    // comparison wants out of the loop. Default: fresh temp dir.
    val root = sys.env.getOrElse("SPARK_GRAFT_SCALE_ROOT",
      java.nio.file.Files.createTempDirectory("graft_scale").toString)
    val spark = GraftSession.builder("graft-scale")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // warmup (classloading + codegen) on the smallest SF, untimed
    val warm = new java.io.File("/root/testdata/sf0.001")
    if (warm.isDirectory) heavy.foreach { q =>
      try Extras.getOrElse(q, SparkEntry.queries(q))(spark, warm.toString)
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }

    val results = factors.map { f =>
      val dir = s"$root/x$f"
      // _STAGED marker: only trust a COMPLETE prior staging (a crashed
      // run's partial corpus would silently shrink the measured work)
      val marker = java.nio.file.Paths.get(dir, "_STAGED")
      if (!java.nio.file.Files.exists(marker)) {
        stage(spark, srcDir, dir, f)
        java.nio.file.Files.createFile(marker)
      }
      partPerX.foreach { p =>
        val parts = math.max(cpus.toInt, math.round(p * f).toInt)
        spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
        System.err.println(s"[scale x$f] shuffle.partitions = $parts")
      }
      // ingest-maintained state, staged untimed by the one Bench list
      Bench.stageFixtures(spark, dir).foreach { st =>
        st.error.foreach(e => System.err.println(s"[scale x$f] ${st.name} staging FAILED: $e"))
      }
      val entries = heavy.flatMap { q =>
        System.gc()
        val t0 = System.nanoTime()
        try {
          val df = Extras.getOrElse(q, SparkEntry.queries(q))(spark, dir)
          if (df.columns.sameElements(Array("n_candidates"))) {
            // candidate-volume probe: a ROW COUNT, reported under
            // "counts" so the "sec"-unit timing map stays honest
            Some((q, df.first().getLong(0).toDouble, true))
          } else {
            df.write.format("noop").mode("overwrite").save()
            Some((q, (System.nanoTime() - t0) / 1e9, false))
          }
        } catch {
          case e: Throwable =>
            System.err.println(s"[scale x$f] $q FAILED: ${e.toString.take(200)}")
            None
        }
      }
      f -> entries
    }
    def obj(entries: Seq[(String, Double, Boolean)], fmt: String) =
      entries.map { case (q, v, _) => s""""$q":${fmt.format(v)}""" }
        .mkString("{", ",", "}")
    val times = results.map { case (f, es) =>
      s""""x$f":${obj(es.filterNot(_._3), "%.2f")}""" }.mkString("{", ",", "}")
    val counts = results.map { case (f, es) =>
      s""""x$f":${obj(es.filter(_._3), "%.0f")}""" }.mkString("{", ",", "}")
    println(s"""{"metric":"scale","unit":"sec","src":"$srcDir","factors":$times,"counts":$counts}""")
    spark.stop()
  }
}

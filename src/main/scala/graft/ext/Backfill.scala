package graft.ext

import graft.Tables
import graft.functions.TextFns
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental BACKFILL of a derived-column artifact — the maintenance
  * operation every per-document feature table needs at 100 TB. A
  * training pipeline keeps derived columns (token counts, quality
  * signals) as a persisted artifact beside the corpus; when new
  * partitions arrive, recomputing the whole artifact is a full corpus
  * scan per schema change, while the correct cost is ONE scan of the
  * missing partitions. This operator is that delta:
  *
  *   - the artifact-vs-corpus diff runs at PARTITION granularity
  *     (`source`, the corpus's hive key): two tiny distinct sets and an
  *     anti-join over their few-row results — at 100 TB this is a
  *     file-listing comparison, not a data scan;
  *   - the recompute reads ONLY the missing partitions (a broadcast
  *     left-semi on the partition key, which Spark folds into partition
  *     pruning when the key is the hive column);
  *   - the result unions stored rows with the delta — so repeated
  *     backfills are idempotent (an up-to-date artifact yields an empty
  *     delta) and the union equals the from-scratch recompute row for
  *     row (BackfillSpec pins both, the artifact≡recompute discipline
  *     of the pair table and the pack manifest).
  *
  * The same shape serves schema EVOLUTION (drop the artifact column-
  * wise and backfill everything) and late data (a reopened partition is
  * "missing" after its artifact slice is retracted).
  *
  * Caveat (shared by every plain-parquet sink in this repo): the
  * partition-level diff treats ANY artifact rows for a source as "that
  * partition is covered", so a crash that published a partition's rows
  * partially leaves it incomplete-but-covered. A writer closes this
  * by publishing through the one store protocol ([[graft.ops.Publish]]:
  * a version commits whole or not at all), or by retracting the
  * suspect partition's rows first (which makes it "missing" again).
  * Symmetrically, backfill only ADDS: an artifact carrying rows for
  * partitions the corpus no longer has keeps them (the union preserves
  * stored rows) — deletions flow through the delete path, not the
  * backfill (retract the dropped partition's rows, as a delete apply
  * does for the other stores).
  */
object Backfill {

  /** The derived columns the artifact stores: the packing token count
    * (the repo-wide `string_split_regex`-mirrored rule) plus the cheap
    * quality signals a mixture planner reads. One pruned scan, pure map.
    */
  def featureDf(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"), col("source"),
      size(TextFns.tokens(col("text"))).cast("long").as("n_tok"),
      col("n_chars"),
      // `div`, not `/`: Spark's `/` is fractional even on longs, and the
      // artifact stores the integer permille the oracle's `//` computes
      expr("CAST(length(regexp_replace(text, '[^a-zA-Z]', '')) AS BIGINT)" +
        " * 1000 div greatest(n_chars, CAST(1 AS BIGINT))").as("alpha_permille"))

  /** Just the rows a backfill must add: features for corpus partitions
    * the artifact has no rows for.
    */
  def backfillDelta(docs: DataFrame, artifact: DataFrame): DataFrame = {
    val missing = docs.select(col("source")).distinct()
      .join(artifact.select(col("source")).distinct(), Seq("source"), "left_anti")
    featureDf(docs.join(broadcast(missing), Seq("source"), "left_semi"))
  }

  /** The maintained artifact after a backfill: stored rows + delta. */
  def backfillApply(docs: DataFrame, artifact: DataFrame): DataFrame =
    artifact.unionByName(backfillDelta(docs, artifact))

  /** ROW-granular backfill delta — the MAINTENANCE remedy's form. The
    * partition-granular [[backfillDelta]] is the cheap arrival-path
    * operator, but it treats any artifact rows for a source as "that
    * partition is covered": rows missing INSIDE a covered partition
    * (a torn partial publish) make it a no-op, and a maintenance loop
    * that schedules it against the row-granular audit re-plans
    * `backfill` forever. This form closes the granularity gap while
    * keeping the scan partition-pruned:
    *
    *   - per-source row counts on both sides (listing-scale
    *     aggregates) find the GAP partitions — sound as coverage
    *     because the plan routes to `backfill` only when the audit's
    *     structural counts (duplicates, orphans) are zero, so artifact
    *     rows per source are a subset of corpus rows per source and
    *     count equality ⟺ full coverage;
    *   - only the gap partitions are read (broadcast semi on the hive
    *     key → partition pruning) and anti-joined row-granular on
    *     doc_id — the shuffle is gap-partition-sized, not corpus-sized.
    *
    * Equals [[backfillDelta]] exactly when whole partitions are missing
    * (every row of a missing partition is a gap row), and additionally
    * repairs torn partitions (BackfillSpec pins both).
    */
  def backfillDeltaRows(docs: DataFrame, artifact: DataFrame): DataFrame = {
    val nc = docs.groupBy(col("source")).agg(count(lit(1)).as("nc"))
    val na = artifact.groupBy(col("source")).agg(count(lit(1)).as("na"))
    val gaps = nc.join(na, Seq("source"), "left")
      .filter(col("na").isNull || col("na") < col("nc"))
      .select(col("source"))
    val docsGap = docs.join(broadcast(gaps), Seq("source"), "left_semi")
    val artGap = artifact.join(broadcast(gaps), Seq("source"), "left_semi")
    featureDf(docsGap.join(artGap.select(col("doc_id")), Seq("doc_id"), "left_anti"))
  }

  /** The maintained artifact after the row-granular remedy. */
  def backfillApplyRows(docs: DataFrame, artifact: DataFrame): DataFrame =
    artifact.unionByName(backfillDeltaRows(docs, artifact))

  /** Per-(JVM, corpus) staged pre-backfill artifact: built before
    * `src9`/`src19` "arrived" (the staging rule the oracle mirrors).
    * Ingest cost — Bench/ScaleBench pre-build it untimed, so the timed
    * entry measures the backfill itself (listing-level diff + delta
    * compute + report), not the fixture.
    */
  def ensureFeatureArtifact(spark: SparkSession, dir: String): String =
    scratchArtifacts.getOrElseUpdate(dir, {
      val features = featureDf(Tables.documents(spark, dir)
        .filter(!col("source").isin("src9", "src19")))
      val p = graft.ops.Scratch.fixtureDir("feature_artifact").resolve("features").toString
      graft.ops.Publish.publish(spark, p, features)
      p
    })

  private val scratchArtifacts =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Driver entry: the artifact was built before `src9`/`src19` arrived
    * (the staging rule the oracle mirrors); the backfill computes
    * exactly those two partitions and the report proves completeness —
    * per source, the post-backfill row count, token mass, and how many
    * of the rows this backfill added (0 for already-covered partitions:
    * the idempotence face). In production the staged artifact is the
    * pipeline's existing state; the per-arrival cost is the delta.
    */
  def qBackfill(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val staged = graft.ops.Publish.readLive(spark, ensureFeatureArtifact(spark, dir))
    val delta = backfillDelta(docs, staged).localCheckpoint()
    val full = staged.unionByName(delta)
    full.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tok"),
        sum(col("alpha_permille")).as("sum_alpha_pm"))
      .join(delta.groupBy(col("source"))
          .agg(count(lit(1)).as("nb")), Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("sum_tok"),
        col("sum_alpha_pm"), coalesce(col("nb"), lit(0L)).as("n_backfilled"))
      .orderBy("source")
  }

  /** Per-(JVM, corpus) FULLY-BACKFILLED feature artifact — the
    * maintained store a healthy pipeline carries after its backfills
    * ran ([[ensureFeatureArtifact]] is the deliberately-stale fixture
    * the backfill entry exercises; audits read the caught-up form).
    */
  def ensureFeatureArtifactFull(spark: SparkSession, dir: String): String =
    scratchFull.getOrElseUpdate(dir, {
      val features = featureDf(Tables.documents(spark, dir))
      val p = graft.ops.Scratch.fixtureDir("feature_artifact_full").resolve("features").toString
      graft.ops.Publish.publish(spark, p, features)
      p
    })

  private val scratchFull =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** FEATURE-ARTIFACT AUDIT — the derived-column store member of the
    * audit family: volume + partition spread, replay duplicates,
    * row-granular coverage vs the corpus (stronger than the
    * backfill's partition-granular diff — a partially-published
    * partition hides from the listing diff but not from this), and the
    * three derived columns re-computed from the fixed hash sample's
    * own documents, counted once per doc — one [[Audit.keyedAuditDf]]
    * pass on doc_id plus the partition spread. Healthy = all-zero
    * violations, oracle-pinned.
    */
  def featureAuditDf(docs: DataFrame, artifact: DataFrame,
      sample: DataFrame): DataFrame = {
    val a = artifact.select(col("doc_id"), col("source"), col("n_tok"),
      col("n_chars"), col("alpha_permille"))
    val re = featureDf(sample).select(col("doc_id"), col("n_tok").as("t_re"),
      col("n_chars").as("c_re"), col("alpha_permille").as("a_re"))
    // a MISSING row is a coverage gap (n_missing — routed to the cheap
    // row-granular backfill remedy), NOT content rot: only rows that
    // exist and disagree count as mismatch, else a pure gap would
    // mis-route to the full rebuild
    Audit.keyedAuditDf(Seq("doc_id"), docs, a, Some(re),
        Seq("n_feature_mismatch" -> (col("n_tok").isNotNull &&
          (col("n_tok") =!= col("t_re") || col("n_chars") =!= col("c_re") ||
            col("alpha_permille") =!= col("a_re")))))
      .crossJoin(a.agg(countDistinct(col("source")).as("n_partitions")))
      .select(col("n_store").as("n_rows"), col("n_partitions"), col("n_multi"),
        col("n_missing"), col("n_orphans"), col("sample_n"),
        col("n_feature_mismatch"))
  }

  def qBackfillAudit(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    featureAuditDf(docs,
      graft.ops.Publish.readLive(spark, ensureFeatureArtifactFull(spark, dir)),
      Audit.docSample(docs))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_backfill" -> (qBackfill _),
    "q_backfill_audit" -> (qBackfillAudit _),
  )

  val oracles: Map[String, String] = Map(
    // healthy fully-backfilled artifact: volume/partition spread from
    // the corpus, violations pinned zero, sample rule mirrored
    "q_backfill_audit" ->
      s"""WITH ${graft.functions.MixSql.hashSampleCtes("sw", "documents", "doc_id", 1024)}
         |SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |       CAST(count(DISTINCT source) AS BIGINT) AS n_partitions,
         |       CAST(0 AS BIGINT) AS n_multi,
         |       CAST(0 AS BIGINT) AS n_missing,
         |       CAST(0 AS BIGINT) AS n_orphans,
         |       (SELECT CAST(count(*) AS BIGINT) FROM swsamp) AS sample_n,
         |       CAST(0 AS BIGINT) AS n_feature_mismatch
         |FROM documents""".stripMargin,
    // the post-backfill artifact must equal the from-scratch feature
    // table (BackfillSpec pins row equality), so the oracle computes the
    // full-corpus summary and mirrors the staging rule only in the
    // n_backfilled column
    "q_backfill" ->
      """WITH f AS (
        |  SELECT doc_id, source,
        |         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok,
        |         n_chars,
        |         CAST(len(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1000
        |              // greatest(n_chars, 1) AS BIGINT) AS alpha_permille
        |  FROM documents)
        |SELECT source, count(*) AS n_docs,
        |       CAST(sum(n_tok) AS BIGINT) AS sum_tok,
        |       CAST(sum(alpha_permille) AS BIGINT) AS sum_alpha_pm,
        |       CAST(CASE WHEN source IN ('src9', 'src19')
        |                 THEN count(*) ELSE 0 END AS BIGINT) AS n_backfilled
        |FROM f GROUP BY source ORDER BY source""".stripMargin,
  )
}

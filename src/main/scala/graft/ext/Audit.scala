package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The store-audit primitive: a maintained store's rows are matched by
  * key against a truth set (the corpus, or a recompute), and a fixed
  * hash sample of keys is re-derived and compared with the stored rows
  * — all in ONE keyed pass ([[keyedAuditDf]]). Each store audit is a
  * short declaration of its key, projection, checks and recompute.
  */
object Audit {

  /** The first `n` rows of `df` in splitmix64(`key`) order with key
    * tie-break — the [[Ivf.trainCentroids]] rule: stable across runs
    * and partitionings, and uniform whatever the keys encode. A
    * TakeOrdered (per-partition top-n, bounded merge), checkpointed
    * because its consumers read it from several branches. The one
    * Spark-side copy of [[graft.functions.MixSql.hashSampleCtes]].
    */
  def hashSample(df: DataFrame, key: String, n: Int): DataFrame =
    df.orderBy(graft.functions.VectorFns.mix64(col(key)), col(key))
      .limit(n)
      .localCheckpoint()

  /** The audits' document sample ([[Dedup.SweepSampleDocs]] docs). */
  def docSample(docs: DataFrame): DataFrame =
    hashSample(docs, "doc_id", Dedup.SweepSampleDocs)

  /** The audits' embedding sample ([[Ivf.SampleN]] vectors). */
  def vecSample(emb: DataFrame): DataFrame =
    hashSample(emb, "vec_id", Ivf.SampleN)

  /** 1 where `c` holds, else 0 (a null condition counts as 0). */
  def flag(c: Column): Column = when(c, 1L).otherwise(0L)

  /** A long sum that reads 0, not null, over no rows. */
  def sum0(c: Column): Column = coalesce(sum(c), lit(0L))

  /** One keyed pass: the truth keys and the store rows are unioned
    * (tagged), the sample's recomputed columns are broadcast into that
    * scan, and one grouped aggregate per key feeds one global row:
    *
    *   - `n_truth` / `n_store`: row counts;
    *   - `n_multi`: KEYS holding more than one store row (a replay);
    *   - `n_missing` / `n_orphans`: truth ROWS without a store row /
    *     store ROWS without a truth key;
    *   - `sample_n` + one column per `mismatch` condition: `sample`
    *     holds the recompute of sampled keys (a subset of the truth
    *     keys); a sampled key flags once if ANY of its store rows fails
    *     (max per key), or, with no store row, if its truth row — store
    *     columns null — does;
    *   - one sum over the store rows per `sums` entry;
    *   - `keyAggs` over the per-key frame: the key, `n_t` / `n_s` (truth
    *     / store rows per key) and a row count per `sides` frame.
    */
  def keyedAuditDf(key: Seq[String], truth: DataFrame, store: DataFrame,
      sample: Option[DataFrame] = None, mismatch: Seq[(String, Column)] = Nil,
      sums: Seq[(String, Column)] = Nil, sides: Seq[(String, DataFrame)] = Nil,
      keyAggs: Seq[Column] = Nil): DataFrame = {
    val keys = key.map(col)
    val rows = (truth.select(keys: _*) +: store +: sides.map(_._2.select(keys: _*)))
      .zipWithIndex.map { case (df, i) => df.withColumn("_tag", lit(i)) }
      .reduce(_.unionByName(_, allowMissingColumns = true))
    val scanned = sample.fold(rows.withColumn("_sampled", lit(false)))(s =>
      rows.join(broadcast(s.withColumn("_sampled", lit(true))), key, "left"))
    def rowsOf(i: Int) = count(when(col("_tag") === i, 1))
    val sampled = coalesce(col("_sampled"), lit(false))
    val isStore = col("_tag") === 1
    val perKey = scanned.groupBy(keys: _*).agg(rowsOf(0).as("n_t"),
      Seq(rowsOf(1).as("n_s"), max(sampled).as("_sampled")) ++
        sides.indices.map(i => rowsOf(i + 2).as(sides(i)._1)) ++
        mismatch.map { case (n, c) =>
          coalesce(max(when(isStore && sampled, flag(c))),
            max(when(sampled, flag(c)))).as(n)
        } ++
        sums.map { case (n, c) => sum(when(isStore, c)).as(n) }: _*)
    perKey.agg(sum0(col("n_t")).as("n_truth"),
      Seq(sum0(col("n_s")).as("n_store"),
        count(when(col("n_s") > 1, 1)).as("n_multi"),
        sum0(when(col("n_s") === 0, col("n_t"))).as("n_missing"),
        sum0(when(col("n_t") === 0, col("n_s"))).as("n_orphans"),
        count(when(col("_sampled"), 1)).as("sample_n")) ++
        (mismatch ++ sums).map { case (n, _) => sum0(col(n)).as(n) } ++
        keyAggs: _*)
  }
}

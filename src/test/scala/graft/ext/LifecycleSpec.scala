package graft.ext

import graft.{SparkSuite, Tables}
import graft.ops.{Publish, StoreIO}
import org.apache.spark.sql.functions._

/** The "operate day N" drill — the round-14 pieces composed into one
  * lifecycle, asserting the AUDITS stay green through the MAINTENANCE
  * operations (each piece is spec'd alone elsewhere; this pins their
  * interplay):
  *
  *   ingest wave 1 (bootstrap) → ingest wave 2 (incremental append) →
  *   every store audit green + cross-store consistency green →
  *   takedown (deleteApply across all four stores) →
  *   every audit green ON THE SURVIVING CORPUS + consistency green.
  *
  * The post-delete leg is the one that catches composition bugs: the
  * manifest audit re-verifies the REPACKED offsets chain (repack ≡
  * fresh pack is spec'd in PackingSpec; here the audit itself must
  * agree), the hash-store audit's orphan leg proves the apply reached
  * the registry, and the consistency check proves it reached all
  * stores in the same takedown.
  */
class LifecycleSpec extends SparkSuite {
  private val dir = "/root/testdata/sf0.001"

  test("ingest → audits green → takedown → audits green on the surviving corpus") {
    val docs = Tables.documents(spark, dir).localCheckpoint()
    val root = tempDir("lifecycle")
    val idx = root.resolve("index").toString
    val pairs = root.resolve("pairs").toString
    val hashes = root.resolve("hashes").toString
    val manifest = root.resolve("manifest").toString

    // ingest wave 1: bootstrap every store from the first arrivals
    // (ascending doc_id — the packing stream contract)
    val cut = docs.agg(expr("percentile(doc_id, 0.6)")).head().getDouble(0).toLong
    val wave1 = docs.filter(col("doc_id") <= cut)
    val wave2 = docs.filter(col("doc_id") > cut)
    Dedup.indexInit(wave1, idx)
    Dedup.pairsArtifactInit(wave1, pairs)
    def hashRows(d: org.apache.spark.sql.DataFrame, batch: Int) = d
      .select(md5(col("text").cast("binary")).as("h"), col("doc_id"),
        lit(batch.toLong).as("batch"))
    Publish.publish(spark, hashes, hashRows(wave1, 0), Seq("batch"))
    Publish.publish(spark, manifest, Packing.packSequences(wave1))

    // ingest wave 2: incremental appends (probe-and-append for pairs,
    // packDelta for the manifest, a new batch for the registry), each a
    // delta child beside the committed version
    Dedup.pairsArtifactAppend(Dedup.indexIncremental(wave2, idx), pairs)
    StoreIO.append(hashRows(wave2, 1), hashes)
    StoreIO.append(Packing.packDelta(StoreIO.read(spark, manifest), wave2),
      manifest)
    def hashesNow() = StoreIO.read(spark, hashes, Some(Dedup.HashStoreDdl))
    def manifestNow() = StoreIO.read(spark, manifest)

    def allAuditsGreen(corpus: org.apache.spark.sql.DataFrame, label: String): Unit = {
      val a = Dedup.artifactAuditDf(corpus,
        Dedup.pairsArtifactRead(spark, pairs)).head()
      assert(a.getAs[Long]("n_missing") === 0L, s"$label pair artifact missing")
      assert(a.getAs[Long]("n_extra") === 0L, s"$label pair artifact extra")
      val m = Packing.manifestAuditDf(corpus, manifestNow(), corpus).head()
      assert(m.getAs[Long]("n_formula_bad") === 0L, s"$label manifest formula")
      assert(m.getAs[Long]("n_adjacency_bad") === 0L, s"$label manifest adjacency")
      assert(m.getAs[Long]("n_missing") === 0L, s"$label manifest missing")
      assert(m.getAs[Long]("n_orphans") === 0L, s"$label manifest orphans")
      assert(m.getAs[Long]("n_dup_rows") === 0L, s"$label manifest dups")
      assert(m.getAs[Long]("n_tok_mismatch") === 0L, s"$label manifest n_tok")
      val h = Dedup.hashStoreAuditDf(corpus, hashesNow(), corpus).head()
      assert(h.getAs[Long]("n_multi") === 0L, s"$label hash multi")
      assert(h.getAs[Long]("n_missing") === 0L, s"$label hash missing")
      assert(h.getAs[Long]("n_orphans") === 0L, s"$label hash orphans")
      assert(h.getAs[Long]("n_hash_mismatch") === 0L, s"$label hash rot")
      val c = Dedup.storeConsistencyDf(hashesNow(),
        manifestNow(), Dedup.pairsArtifactRead(spark, pairs)).head()
      assert(c.getAs[Long]("n_manifest_not_hash") === 0L, s"$label x-store m!h")
      assert(c.getAs[Long]("n_hash_not_manifest") === 0L, s"$label x-store h!m")
      assert(c.getAs[Long]("n_pair_endpoints_unregistered") === 0L, s"$label x-store pairs")
    }

    allAuditsGreen(docs, "post-ingest")

    // takedown: the standing src7 delete, applied across all stores
    val del = docs.filter(col("source") === "src7").select("doc_id")
    Dedup.deleteApply(del, idx, pairs, Some(hashes), Some(manifest)).collect()
    val survivors = docs.join(del, Seq("doc_id"), "left_anti").localCheckpoint()
    assert(survivors.count() < docs.count(), "the takedown must delete something")

    allAuditsGreen(survivors, "post-takedown")

    // day 3: a SECOND takedown crashes after its first store rewrite —
    // the hash registry loses the delete set (plus one replayed append
    // from the at-least-once retry), the manifest and pair artifact
    // keep it. Consistency sees the drift; storeRepair rolls the delete
    // FORWARD (delete-dominance) and every audit is green again on the
    // day-3 surviving corpus. (The sketch index is deleteApply's job —
    // repair's documented three-store scope.)
    val del2 = survivors.filter(col("source") === "src3")
      .select("doc_id").localCheckpoint()
    val nDel2 = del2.count()
    assert(nDel2 > 0, "day-3 takedown must delete something")
    val replayed = hashesNow()
      .join(del2, Seq("doc_id"), "left_anti").limit(1)
      .withColumn("batch", lit(9L)).localCheckpoint()
    val crashed = hashesNow()
      .join(del2, Seq("doc_id"), "left_anti")
      .unionByName(replayed.select(col("h"), col("doc_id"), col("batch")))
      .localCheckpoint()
    Publish.publish(spark, hashes, crashed, Seq("batch"))
    val drift = Dedup.storeConsistencyDf(hashesNow(),
      manifestNow(), Dedup.pairsArtifactRead(spark, pairs)).head()
    assert(drift.getAs[Long]("n_manifest_not_hash") === nDel2)
    val rep = Dedup.storeRepair(spark, hashes, manifest, pairs).head()
    assert(rep.getAs[Long]("n_hash_dups_removed") === 1L)
    assert(rep.getAs[Long]("n_manifest_drift_removed") === nDel2)
    assert(rep.getAs[Long]("n_hash_drift_removed") === 0L)
    val survivors2 = survivors.join(del2, Seq("doc_id"), "left_anti")
      .localCheckpoint()
    allAuditsGreen(survivors2, "post-repair")
  }
}

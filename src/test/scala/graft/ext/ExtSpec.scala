package graft.ext

import graft.{SparkSuite, Tables}
import graft.functions.{RollingHashFingerprint, TextFns}
import org.apache.spark.sql.functions._

/** Extension-operator semantics on the shared sf0.001 tables (which carry
  * ~28 generator-planted near-duplicate pairs at jaccard ≥ 0.97).
  */
class ExtSpec extends SparkSuite {
  val dir = "/root/testdata/sf0.001"

  test("readability counts words and vowel-run syllables, grid-rounded") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat on a tree"), // 6 words, runs e/a/a/o/a/ee = 6
      (2L, "aeiou xyz"),             // 2 words, one 5-vowel run
      (3L, "rhythm BY sky"),         // 3 words, zero vowel runs
    ).toDF("doc_id", "text")
    val got = Text.readability(docs)
      .as[(Long, Int, Int, Double, Double, Double)].collect()
      .map(t => t._1 -> t).toMap
    def grid(x: Double, d: Int) = { val s = math.pow(10, d); math.floor(x * s + 0.5) / s }
    def expect(w: Int, s: Int) = (
      grid(s.toDouble / w, 4),
      grid(206.835 - 1.015 * w - 84.6 * (s.toDouble / w), 2),
      grid(0.39 * w + 11.8 * (s.toDouble / w) - 15.59, 2))
    assert((got(1L)._2, got(1L)._3) === ((6, 6)))
    assert((got(2L)._2, got(2L)._3) === ((2, 1)))
    assert((got(3L)._2, got(3L)._3) === ((3, 0)))
    got.values.foreach { case (id, w, s, spw, fl, fk) =>
      assert((spw, fl, fk) === expect(w, s), s"doc $id")
    }
  }

  test("minhash LSH finds exactly the brute-force jaccard>=0.8 pairs") {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), TextFns.wordShingles(col("text"), 3).as("sh"))
    val a = docs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = docs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    val brute = a.join(b, col("doc_a") < col("doc_b"))
      .withColumn("j", TextFns.jaccard(col("sh_a"), col("sh_b")))
      .filter(col("j") >= 0.8)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val lsh = Dedup.dedupMinhash(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    assert(brute.nonEmpty, "test data should contain planted near-dups")
    assert(lsh === brute)
  }

  test("prefix filtering finds exactly the brute-force pairs (recall 1 by theorem)") {
    val brute = Dedup.dedupMinhash(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val prefix = Dedup.dedupPrefix(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(brute.nonEmpty)
    assert(prefix === brute)
    // at a higher threshold the prefixes shrink and the result narrows
    // monotonically
    val strict = Dedup.dedupPrefix(spark, dir, threshold = 0.95).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(strict.subsetOf(prefix))
    assert(strict.forall(_._3 >= 0.95))
  }

  test("truncated-dim prefilter: exact scores, near-exact recall, exact at full margin") {
    val exact = Similarity.annTopk(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val trunc = Similarity.annTopkTruncated(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // cosines of commonly-returned ids are the SAME exact values
    trunc.keySet.intersect(exact.keySet).foreach { id =>
      assert(trunc(id) === exact(id), s"vec $id rescored differently")
    }
    // 100-candidate margin on a 16/64-dim prefix keeps recall high
    assert(trunc.keySet.intersect(exact.keySet).size >= 8,
      s"recall@10 too low: ${trunc.keySet.intersect(exact.keySet).size}")
    // with the margin widened to the whole corpus the prefilter is exact
    val n = Tables.embeddings(spark, dir).count().toInt
    val full = Similarity.annTopkTruncated(spark, dir, candidates = n)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(full === exact)
  }

  test("prefix-filter theorem holds on randomized corpora (no pair at j>=t ever missed)") {
    import spark.implicits._
    val rng = new scala.util.Random(42)
    val alphabet = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    (0 until 3).foreach { trial =>
      // random docs over a tiny vocabulary force heavy shingle overlap —
      // the adversarial regime for candidate generation
      val docs = (0L until 25L).map { id =>
        val n = 6 + rng.nextInt(10)
        (id, Seq.fill(n)(alphabet(rng.nextInt(alphabet.size))).mkString(" "))
      }.toDF("doc_id", "text")
      Seq(0.5, 0.8).foreach { t =>
        val brute = docs.select(col("doc_id"), graft.functions.TextFns.wordShingles(col("text"), 3).as("sh"))
        val a = brute.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
        val b = brute.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
        val truth = a.join(b, col("doc_a") < col("doc_b"))
          .withColumn("j", graft.functions.TextFns.jaccard(col("sh_a"), col("sh_b")))
          .filter(col("j") >= t)
          .select("doc_a", "doc_b")
          .as[(Long, Long)].collect().toSet
        val got = Dedup.dedupPrefixDocs(docs, t)
          .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
        assert(got === truth, s"trial=$trial t=$t")
      }
    }
  }

  test("incremental minhash index: union over batches equals the full-corpus run") {
    val full = Dedup.dedupMinhash(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(full.nonEmpty)
    val batch1Internal = full.filter { case (a, b, _) => a < 250 && b < 250 }

    val docs = graft.Tables.documents(spark, dir)
    val idx = tempDir("minhash_idx").toString
    Dedup.indexInit(docs.filter(org.apache.spark.sql.functions.col("doc_id") < 250), idx)
    val incremental = Dedup.indexIncremental(
        docs.filter(org.apache.spark.sql.functions.col("doc_id") >= 250), idx)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    // incremental emits exactly the pairs touching the new batch...
    assert(incremental === (full -- batch1Internal))
    // ...and the index accumulated the new batch: a re-run of the SAME
    // batch still finds its pairs against the now-complete index
    val rerun = Dedup.indexIncremental(
        docs.filter(org.apache.spark.sql.functions.col("doc_id") >= 250), idx)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rerun === (full -- batch1Internal))
  }

  test("quantizer model artifacts: parquet round-trip is bit-exact and equals fresh training") {
    val emb = Tables.embeddings(spark, dir)
    // IVF: the ensure-cached model every default-model entry reads
    assert(Ivf.ensureModel(spark, dir) === Ivf.trainCentroids(emb))
    // PQ codebooks likewise
    assert(Pq.ensureModel(spark, dir) === Pq.trainCodebooks(emb))
    // explicit write/read round-trip preserves float bits
    val cents = Ivf.trainCentroids(emb, k = 4, iters = 2, sampleN = 64)
    val p = tempDir("model_rt")
      .resolve("m").toString
    Ivf.modelArtifactWrite(spark, cents, p)
    assert(Ivf.modelArtifactRead(spark, p) === cents)
  }

  test("ann_retrain_delta: counts partition the corpus, moves match an independent recompute, same-cohort cut is a fixed point") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, dir)
    val n = emb.count()
    val cut = 4L * n / 5L
    val rows = Ivf.retrainDeltaDf(emb, cut).collect()
    assert(rows.map(_.getLong(1)).sum === n)
    rows.foreach(r => assert(r.getLong(2) <= r.getLong(1)))
    // n_moved per old list recomputed through the serving-path assigner
    val centsOld = Ivf.trainCentroids(emb.filter(col("vec_id") < cut))
    val centsNew = Ivf.trainCentroids(emb)
    val moved = Ivf.assignLists(emb, centsOld)
      .select(col("vec_id"), col("list_id").as("ol"))
      .join(Ivf.assignLists(emb, centsNew)
        .select(col("vec_id"), col("list_id").as("nl")), "vec_id")
      .filter(col("ol") =!= col("nl"))
      .groupBy("ol").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    rows.foreach(r => assert(r.getLong(2) === moved.getOrElse(r.getInt(0), 0L),
      s"list ${r.getInt(0)}"))
    // same training cohort on both sides: nothing moves, nothing recovers
    val fp = Ivf.retrainDeltaDf(emb, cut = n + 1).collect()
    fp.foreach { r =>
      assert(r.getLong(2) === 0L)
      if (r.getLong(1) > 0) assert(r.getDouble(6) === 0.0, s"list ${r.getInt(0)}")
    }
    // the drift report's cohort guard fails fast instead of emitting
    // NULL/Infinity shares (r13 ADVICE)
    val ex = intercept[IllegalArgumentException] {
      Ivf.ivfDriftDf(emb, cut = 10L * n)
    }
    assert(ex.getMessage.contains("delta cohort"))
  }

  test("retrain apply: post-apply state ≡ from-scratch serving state, movement bill balances, idempotent") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, dir).localCheckpoint()
    val n = emb.count()
    val cut = 4L * n / 5L
    val centsOld = Ivf.trainCentroids(emb.filter(col("vec_id") < cut))
    val centsNew = Ivf.trainCentroids(emb)
    val root = tempDir("retrain_apply_spec")
    val modelPath = root.resolve("model").toString
    val layoutPath = root.resolve("corpus").toString
    Ivf.modelArtifactWrite(spark, centsOld, modelPath)
    Ivf.writeIvfPartitioned(emb, centsOld, layoutPath)
    val rep = Ivf.retrainApply(spark, layoutPath, modelPath, centsNew)
      .collect()
    // the bill balances: counts partition the corpus on both sides,
    // per-list conservation, out-total == in-total == the delta
    // report's move total (same deterministic trainings)
    assert(rep.map(_.getAs[Long]("n_before")).sum === n)
    assert(rep.map(_.getAs[Long]("n_after")).sum === n)
    rep.foreach { r =>
      assert(r.getAs[Long]("n_after") === r.getAs[Long]("n_before") -
        r.getAs[Long]("n_moved_out") + r.getAs[Long]("n_moved_in"),
        s"list ${r.getInt(0)}")
    }
    val outTotal = rep.map(_.getAs[Long]("n_moved_out")).sum
    assert(outTotal === rep.map(_.getAs[Long]("n_moved_in")).sum)
    assert(outTotal ===
      Ivf.retrainDeltaDf(emb, cut).collect().map(_.getAs[Long]("n_moved")).sum)
    // post-apply artifacts equal the from-scratch serving state
    assert(Ivf.modelArtifactRead(spark, modelPath) === centsNew)
    val fresh = root.resolve("fresh").toString
    Ivf.writeIvfPartitioned(emb, centsNew, fresh)
    def rows(p: String): Seq[String] = graft.ops.Publish.readLive(spark, p)
      .select(col("vec_id"), col("nrm"), col("list_id").cast("int"))
      .collect().map(_.toString).sorted.toSeq
    assert(rows(layoutPath) === rows(fresh))
    // served search over the applied layout == search over fresh state
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_emb"))
    assert(
      Ivf.ivfSearchPartitioned(spark, layoutPath, queries, centsNew, k = 5)
        .collect().map(_.toString).toSeq ===
      Ivf.ivfSearchPartitioned(spark, fresh, queries, centsNew, k = 5)
        .collect().map(_.toString).toSeq)
    // idempotence: re-applying the live quantizer moves nothing
    val rep2 = Ivf.retrainApply(spark, layoutPath, modelPath, centsNew)
      .collect()
    rep2.foreach { r =>
      assert(r.getAs[Long]("n_moved_out") === 0L)
      assert(r.getAs[Long]("n_moved_in") === 0L)
    }
    assert(rows(layoutPath) === rows(fresh))
    // SHRINKING retrain: old list ids above the new k-1 must still
    // appear in the bill (full-outer grid), or conservation breaks
    val cents4 = Ivf.trainCentroids(emb, k = 4)
    val rep3 = Ivf.retrainApply(spark, layoutPath, modelPath, cents4)
      .collect()
    assert(rep3.exists(r => r.getInt(0) >= 4 && r.getAs[Long]("n_before") > 0L),
      "shrink case must exercise old lists beyond the new grid")
    assert(rep3.map(_.getAs[Long]("n_before")).sum === n)
    assert(rep3.map(_.getAs[Long]("n_after")).sum === n)
    assert(rep3.map(_.getAs[Long]("n_moved_out")).sum ===
      rep3.map(_.getAs[Long]("n_moved_in")).sum)
    rep3.foreach { r =>
      assert(r.getAs[Long]("n_after") === r.getAs[Long]("n_before") -
        r.getAs[Long]("n_moved_out") + r.getAs[Long]("n_moved_in"))
      if (r.getInt(0) >= 4) assert(r.getAs[Long]("n_after") === 0L)
    }
  }

  test("ivf layout audit: healthy layout all-zero; dup, missing, orphan, misassignment, and norm rot reported exactly") {
    import org.apache.spark.sql.functions.{col, lit, when}
    val emb = Tables.embeddings(spark, dir).localCheckpoint()
    val n = emb.count()
    val cents = Ivf.ensureModel(spark, dir)
    val layout = graft.ops.Publish.readLive(spark, Ivf.ensureLayout(spark, dir))
      .localCheckpoint()
    def audit(l: org.apache.spark.sql.DataFrame) =
      Ivf.ivfLayoutAuditDf(emb, l, cents, Audit.vecSample(emb)).head()
    val healthy = audit(layout)
    assert(healthy.getAs[Long]("n_layout") === n)
    assert(healthy.getAs[Long]("n_lists") ===
      layout.select("list_id").distinct().count())
    assert(healthy.getAs[Long]("sample_n") === math.min(n, Ivf.SampleN.toLong))
    for (c <- Seq("n_multi", "n_missing", "n_orphans", "n_misassigned",
        "n_norm_mismatch"))
      assert(healthy.getAs[Long](c) === 0L, c)
    // the first hash-sample vector — the one the sample legs must see
    val top = emb.orderBy(graft.functions.VectorFns.mix64(col("vec_id")),
      col("vec_id")).limit(1).select("vec_id").head().getLong(0)
    // replayed append: one vec twice — flagged by n_multi, while the
    // sample leg stays exact (sample_n pinned, the duplicated-but-
    // correct row not double-counted as a mismatch)
    val replayed = audit(layout.unionByName(layout.filter(col("vec_id") === top)))
    assert(replayed.getAs[Long]("n_multi") === 1L)
    assert(replayed.getAs[Long]("sample_n") === math.min(n, Ivf.SampleN.toLong))
    assert(replayed.getAs[Long]("n_misassigned") === 0L)
    assert(replayed.getAs[Long]("n_norm_mismatch") === 0L)
    // a dup where ONE copy rotted still counts its vec_id exactly once
    val dupRot = audit(layout.unionByName(layout.filter(col("vec_id") === top)
      .withColumn("nrm", lit(-1.0))))
    assert(dupRot.getAs[Long]("sample_n") === math.min(n, Ivf.SampleN.toLong))
    assert(dupRot.getAs[Long]("n_norm_mismatch") === 1L)
    // dropped row: missing from coverage AND from the sample slice
    val dropped = audit(layout.filter(col("vec_id") =!= top))
    assert(dropped.getAs[Long]("n_missing") === 1L)
    assert(dropped.getAs[Long]("n_misassigned") === 1L)
    // stale orphan after a takedown that skipped this store
    assert(audit(layout.unionByName(layout.filter(col("vec_id") === top)
        .withColumn("vec_id", col("vec_id") + 5000000L)))
      .getAs[Long]("n_orphans") === 1L)
    // a retrain apply that crashed after moving this row: wrong list
    val k = cents.size
    assert(audit(layout.withColumn("list_id",
        when(col("vec_id") === top, (col("list_id") + 1) % k)
          .otherwise(col("list_id"))))
      .getAs[Long]("n_misassigned") === 1L)
    // bit rot in the precomputed norm
    assert(audit(layout.withColumn("nrm",
        when(col("vec_id") === top, lit(-1.0)).otherwise(col("nrm"))))
      .getAs[Long]("n_norm_mismatch") === 1L)
  }

  test("serving-artifact maintenance: layout/codes appends over batches equal the from-scratch build, replay-idempotent, audit-green") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, dir).localCheckpoint()
    val cents = Ivf.ensureModel(spark, dir)
    val cb = Pq.ensureModel(spark, dir)
    val cut1 = 200L; val cut2 = 350L
    val root = tempDir("serving_append")
    val lP = root.resolve("layout").toString
    val cP = root.resolve("codes").toString
    // bootstrap on the first arrivals, then two incremental waves —
    // wave 1 APPLIED TWICE (at-least-once replay)
    Ivf.writeIvfPartitioned(emb.filter(col("vec_id") < cut1), cents, lP)
    Pq.encodeCorpus(emb.filter(col("vec_id") < cut1), cb).publishTo(cP)
    val wave1 = emb.filter(col("vec_id") >= cut1 && col("vec_id") < cut2)
    val wave2 = emb.filter(col("vec_id") >= cut2)
    Ivf.layoutAppend(wave1, cents, lP)
    Ivf.layoutAppend(wave1, cents, lP) // replay
    Ivf.layoutAppend(wave2, cents, lP)
    Pq.codesAppend(wave1, cb, cP)
    Pq.codesAppend(wave1, cb, cP) // replay
    Pq.codesAppend(wave2, cb, cP)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val fresh = root.resolve("fresh").toString
    Ivf.writeIvfPartitioned(emb, cents, fresh)
    assert(rows(graft.ops.StoreIO.read(spark, lP)
        .select(col("vec_id"), col("nrm"), col("list_id").cast("int"))) ===
      rows(graft.ops.StoreIO.read(spark, fresh)
        .select(col("vec_id"), col("nrm"), col("list_id").cast("int"))))
    assert(rows(graft.ops.StoreIO.read(spark, cP)) === rows(Pq.encodeCorpus(emb, cb)))
    // and the audits gate the maintained artifacts directly
    val la = Ivf.ivfLayoutAuditDf(emb, graft.ops.StoreIO.read(spark, lP), cents,
      Audit.vecSample(emb)).head()
    for (c <- Seq("n_multi", "n_missing", "n_orphans", "n_misassigned",
        "n_norm_mismatch"))
      assert(la.getAs[Long](c) === 0L, s"layout $c")
    val ca = Pq.codesAuditDf(emb, graft.ops.StoreIO.read(spark, cP), cb,
      Audit.vecSample(emb)).head()
    for (c <- Seq("n_multi", "n_missing", "n_orphans", "n_len_bad",
        "n_code_mismatch"))
      assert(ca.getAs[Long](c) === 0L, s"codes $c")
  }

  test("layout appends around a retrain: retrainApply folds the appended rows, a later layoutAppend is visible to the served search") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, dir).localCheckpoint()
    val (cut1, cut2) = (300L, 400L)
    val centsOld = Ivf.trainCentroids(emb.filter(col("vec_id") < cut1))
    val centsNew = Ivf.trainCentroids(emb)
    val root = tempDir("retrain_append")
    val (lP, mP) = (root.resolve("layout").toString, root.resolve("model").toString)
    Ivf.modelArtifactWrite(spark, centsOld, mP)
    Ivf.writeIvfPartitioned(emb.filter(col("vec_id") < cut1), centsOld, lP)
    // appended under the OLD model: the retrain must re-assign and fold it
    Ivf.layoutAppend(emb.filter(col("vec_id") >= cut1 && col("vec_id") < cut2),
      centsOld, lP)
    Ivf.retrainApply(spark, lP, mP, centsNew).collect()
    assert(graft.ops.StoreIO.deltaChildren(spark, lP).isEmpty)
    // appended AFTER the retrain, under the new model
    Ivf.layoutAppend(emb.filter(col("vec_id") >= cut2), centsNew, lP)
    val fresh = root.resolve("fresh").toString
    Ivf.writeIvfPartitioned(emb, centsNew, fresh)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(graft.ops.StoreIO.read(spark, lP)
        .select(col("vec_id"), col("nrm"), col("list_id").cast("int"))) ===
      rows(graft.ops.Publish.readLive(spark, fresh)
        .select(col("vec_id"), col("nrm"), col("list_id").cast("int"))))
    val queries = emb.filter(col("vec_id") >= cut2).orderBy("vec_id").limit(5)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_emb"))
    val served = Ivf.ivfSearchPartitioned(spark, lP, queries, centsNew, k = 5)
      .collect().map(_.toString).toSeq
    assert(served === Ivf.ivfSearchPartitioned(spark, fresh, queries, centsNew,
      k = 5).collect().map(_.toString).toSeq)
    assert(served.nonEmpty)
  }

  test("pq codes audit: healthy table all-zero; dup, missing, orphan, torn write, and code rot reported exactly") {
    import org.apache.spark.sql.functions.{col, slice, when}
    val emb = Tables.embeddings(spark, dir).localCheckpoint()
    val n = emb.count()
    val cb = Pq.ensureModel(spark, dir)
    val codes = graft.ops.Publish.readLive(spark, Pq.ensureCodes(spark, dir)).localCheckpoint()
    def audit(c: org.apache.spark.sql.DataFrame) =
      Pq.codesAuditDf(emb, c, cb, Audit.vecSample(emb)).head()
    val healthy = audit(codes)
    assert(healthy.getAs[Long]("n_codes") === n)
    assert(healthy.getAs[Long]("sample_n") === math.min(n, Pq.SampleN.toLong))
    for (c <- Seq("n_multi", "n_missing", "n_orphans", "n_len_bad",
        "n_code_mismatch"))
      assert(healthy.getAs[Long](c) === 0L, c)
    val top = emb.orderBy(graft.functions.VectorFns.mix64(col("vec_id")),
      col("vec_id")).limit(1).select("vec_id").head().getLong(0)
    // replay dup: n_multi flags it; the sample leg stays exact (pinned
    // sample_n, no double-count — the per-vec_id aggregate discipline)
    val replayed = audit(codes.unionByName(codes.filter(col("vec_id") === top)))
    assert(replayed.getAs[Long]("n_multi") === 1L)
    assert(replayed.getAs[Long]("sample_n") === math.min(n, Pq.SampleN.toLong))
    assert(replayed.getAs[Long]("n_code_mismatch") === 0L)
    val dropped = audit(codes.filter(col("vec_id") =!= top))
    assert(dropped.getAs[Long]("n_missing") === 1L)
    assert(dropped.getAs[Long]("n_code_mismatch") === 1L)
    assert(audit(codes.unionByName(codes.filter(col("vec_id") === top)
        .withColumn("vec_id", col("vec_id") + 5000000L)))
      .getAs[Long]("n_orphans") === 1L)
    // torn write: a truncated code vector trips BOTH the linear length
    // leg and (for a sampled row) the re-encode comparison
    val torn = audit(codes.withColumn("codes",
      when(col("vec_id") === top, slice(col("codes"), 1, 3))
        .otherwise(col("codes"))))
    assert(torn.getAs[Long]("n_len_bad") === 1L)
    assert(torn.getAs[Long]("n_code_mismatch") === 1L)
    // the NULL form of a torn write must hit the linear leg too
    val nulled = audit(codes.withColumn("codes",
      when(col("vec_id") === top,
        org.apache.spark.sql.functions.lit(null).cast("array<int>"))
        .otherwise(col("codes"))))
    assert(nulled.getAs[Long]("n_len_bad") === 1L)
    assert(nulled.getAs[Long]("n_code_mismatch") === 1L)
    // code rot: same length, different first code
    val rot = audit(codes.withColumn("codes",
      when(col("vec_id") === top,
        org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.array(
            (col("codes")(0) + 1) % Pq.Ksub),
          slice(col("codes"), 2, Pq.M - 1)))
        .otherwise(col("codes"))))
    assert(rot.getAs[Long]("n_len_bad") === 0L)
    assert(rot.getAs[Long]("n_code_mismatch") === 1L)
  }

  test("r15 store audits: healthy all-zero; planted corruption classes caught exactly") {
    import org.apache.spark.sql.functions.{col, lit, when}
    import graft.ops.StoreIO
    val docs = Tables.documents(spark, dir).localCheckpoint()
    val emb = Tables.embeddings(spark, dir).localCheckpoint()
    val n = docs.count()
    val d0 = docs.orderBy("doc_id").head().getLong(0)

    // --- sketch index ---
    val idx = Dedup.ensureFullIndex(spark, dir)
    val bands = StoreIO.read(spark, s"$idx/bands", Some(Dedup.BandsDdl))
      .localCheckpoint()
    val shingles = StoreIO.read(spark, s"$idx/shingles", Some(Dedup.ShinglesDdl))
      .localCheckpoint()
    def idxAudit(b: org.apache.spark.sql.DataFrame,
        s: org.apache.spark.sql.DataFrame) =
      Dedup.indexAuditDf(docs, b, s, Audit.docSample(docs)).head()
    val ih = idxAudit(bands, shingles)
    assert(ih.getAs[Long]("n_band_rows") === 32L * n)
    assert(ih.getAs[Long]("n_shingle_rows") === n)
    for (c <- Seq("n_band_dups", "n_shingle_multi", "n_missing", "n_orphans",
        "n_band_incomplete", "n_band_mismatch", "n_shingle_mismatch"))
      assert(ih.getAs[Long](c) === 0L, c)
    // replayed band row: dup AND a wrong per-doc band count
    val iDup = idxAudit(bands.unionByName(bands
      .filter(col("doc_id") === d0 && col("band_idx") === 0)), shingles)
    assert(iDup.getAs[Long]("n_band_dups") === 1L)
    assert(iDup.getAs[Long]("n_band_incomplete") === 1L)
    // dropped doc: coverage gap + sample re-sketch miss
    val iMiss = idxAudit(bands, shingles.filter(col("doc_id") =!= d0))
    assert(iMiss.getAs[Long]("n_missing") === 1L)
    assert(iMiss.getAs[Long]("n_shingle_mismatch") === 1L)
    // band rot on a sampled doc
    val iRot = idxAudit(bands.withColumn("band_hash",
      when(col("doc_id") === d0 && col("band_idx") === 0,
        col("band_hash") + 1).otherwise(col("band_hash"))), shingles)
    assert(iRot.getAs[Long]("n_band_mismatch") === 1L)
    assert(iRot.getAs[Long]("n_band_dups") === 0L)

    // --- ivfpq serving layout ---
    val cents = Ivf.ensureModel(spark, dir)
    val cb = Pq.ensureModel(spark, dir)
    val ipq = graft.ops.Publish.readLive(spark, Pq.ensureIvfPqLayout(spark, dir))
      .localCheckpoint()
    def ipqAudit(l: org.apache.spark.sql.DataFrame) =
      Pq.ivfPqLayoutAuditDf(emb, l, cents, cb, Audit.vecSample(emb)).head()
    val qh = ipqAudit(ipq)
    assert(qh.getAs[Long]("n_rows") === emb.count())
    for (c <- Seq("n_multi", "n_missing", "n_orphans", "n_len_bad",
        "n_misassigned", "n_code_mismatch"))
      assert(qh.getAs[Long](c) === 0L, c)
    val v0 = emb.orderBy(graft.functions.VectorFns.mix64(col("vec_id")),
      col("vec_id")).limit(1).head().getLong(0)
    val qMis = ipqAudit(ipq.withColumn("list_id",
      when(col("vec_id") === v0, (col("list_id") + 1) % cents.size)
        .otherwise(col("list_id"))))
    assert(qMis.getAs[Long]("n_misassigned") === 1L)
    val qRot = ipqAudit(ipq.withColumn("codes",
      when(col("vec_id") === v0,
        org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.array((col("codes")(0) + 1) % Pq.Ksub),
          org.apache.spark.sql.functions.slice(col("codes"), 2, Pq.M - 1)))
        .otherwise(col("codes"))))
    assert(qRot.getAs[Long]("n_code_mismatch") === 1L)
    assert(ipqAudit(ipq.filter(col("vec_id") =!= v0))
      .getAs[Long]("n_missing") === 1L)

    // --- packed physical layout ---
    val packed = graft.ops.Publish.readLive(spark, Packing.ensurePackedStore(spark, dir))
      .localCheckpoint()
    def pkAudit(p: org.apache.spark.sql.DataFrame) =
      Packing.packedAuditDf(docs, p, Audit.docSample(docs)).head()
    val kh = pkAudit(packed)
    assert(kh.getAs[Long]("n_rows") === n)
    for (c <- Seq("n_multi", "n_missing", "n_orphans", "n_formula_bad",
        "n_shard_bad", "n_tok_mismatch"))
      assert(kh.getAs[Long](c) === 0L, c)
    assert(pkAudit(packed.unionByName(packed.filter(col("doc_id") === d0)))
      .getAs[Long]("n_multi") === 1L)
    assert(pkAudit(packed.withColumn("n_seqs",
        when(col("doc_id") === d0, col("n_seqs") + 1).otherwise(col("n_seqs"))))
      .getAs[Long]("n_formula_bad") === 1L)
    assert(pkAudit(packed.withColumn("shard",
        when(col("doc_id") === d0, col("shard").cast("long") + 1)
          .otherwise(col("shard").cast("long"))))
      .getAs[Long]("n_shard_bad") === 1L)
    assert(pkAudit(packed.withColumn("text",
        when(col("doc_id") === d0,
          org.apache.spark.sql.functions.concat(col("text"), lit(" extra tok")))
          .otherwise(col("text"))))
      .getAs[Long]("n_tok_mismatch") === 1L)

    // --- feature artifact ---
    val feats = graft.ops.Publish.readLive(spark,
      Backfill.ensureFeatureArtifactFull(spark, dir)).localCheckpoint()
    def feAudit(a: org.apache.spark.sql.DataFrame) =
      Backfill.featureAuditDf(docs, a, Audit.docSample(docs)).head()
    val fh = feAudit(feats)
    assert(fh.getAs[Long]("n_rows") === n)
    for (c <- Seq("n_multi", "n_missing", "n_orphans", "n_feature_mismatch"))
      assert(fh.getAs[Long](c) === 0L, c)
    val nSrc9 = docs.filter(col("source") === "src9").count()
    // a pure coverage gap is n_missing ONLY — no mismatch, so the plan
    // routes the cheap backfill rather than the full rebuild
    val feGap = feAudit(feats.filter(col("source") =!= "src9"))
    assert(feGap.getAs[Long]("n_missing") === nSrc9)
    assert(feGap.getAs[Long]("n_feature_mismatch") === 0L)
    assert(feAudit(feats.withColumn("alpha_permille",
        when(col("doc_id") === d0, col("alpha_permille") + 1)
          .otherwise(col("alpha_permille"))))
      .getAs[Long]("n_feature_mismatch") === 1L)
    assert(feAudit(feats.unionByName(feats.filter(col("doc_id") === d0)))
      .getAs[Long]("n_multi") === 1L)
  }

  test("maintenance plan: healthy stores schedule nothing; each violation class routes to its remedy") {
    import spark.implicits._
    // healthy end-to-end: TEN stores, zero violations, all 'none'
    val plan = Dedup.qMaintenancePlan(spark, dir).collect()
    assert(plan.map(_.getString(0)).toSeq ===
      Seq("codes", "features", "hashes", "index", "ivfpq", "layout",
        "manifest", "packed", "pairs", "xstore"))
    plan.foreach { r =>
      assert(r.getAs[Long]("n_structural") === 0L, r.getString(0))
      assert(r.getAs[Long]("n_rot") === 0L, r.getString(0))
      assert(r.getAs[String]("action") === "none", r.getString(0))
    }
    // routing: synthesized audit rows exercise every action branch
    def pairsA(miss: Long, extra: Long) =
      Seq((miss, extra)).toDF("n_missing", "n_extra")
    def hashA(multi: Long, rotN: Long) = Seq((multi, 0L, 0L, rotN))
      .toDF("n_multi", "n_missing", "n_orphans", "n_hash_mismatch")
    def manA(dup: Long, tok: Long) = Seq((0L, 0L, dup, 0L, 0L, tok))
      .toDF("n_formula_bad", "n_adjacency_bad", "n_dup_rows",
        "n_missing", "n_orphans", "n_tok_mismatch")
    def consA(d: Long) = Seq((d, 0L, 0L))
      .toDF("n_manifest_not_hash", "n_hash_not_manifest",
        "n_pair_endpoints_unregistered")
    def layA(mis: Long, nrm: Long) = Seq((0L, 0L, 0L, mis, nrm))
      .toDF("n_multi", "n_missing", "n_orphans", "n_misassigned",
        "n_norm_mismatch")
    def codA(len: Long, rotN: Long) = Seq((0L, 0L, 0L, len, rotN))
      .toDF("n_multi", "n_missing", "n_orphans", "n_len_bad",
        "n_code_mismatch")
    def idxA(dups: Long, mm: Long) = Seq((dups, 0L, 0L, 0L, 0L, mm, 0L))
      .toDF("n_band_dups", "n_shingle_multi", "n_missing", "n_orphans",
        "n_band_incomplete", "n_band_mismatch", "n_shingle_mismatch")
    def ipqA(mis: Long, rotN: Long) = Seq((0L, 0L, 0L, 0L, mis, rotN))
      .toDF("n_multi", "n_missing", "n_orphans", "n_len_bad",
        "n_misassigned", "n_code_mismatch")
    def pkdA(shard: Long, tok: Long) = Seq((0L, 0L, 0L, 0L, shard, tok))
      .toDF("n_multi", "n_missing", "n_orphans", "n_formula_bad",
        "n_shard_bad", "n_tok_mismatch")
    def feaA(miss: Long, mm: Long) = Seq((0L, 0L, mm, miss))
      .toDF("n_multi", "n_orphans", "n_feature_mismatch", "n_missing")
    def actions(p: org.apache.spark.sql.DataFrame): Map[String, String] =
      p.collect().map(r => r.getString(0) -> r.getAs[String]("action")).toMap
    val routed = actions(Dedup.maintenancePlanDf(
      pairsA(1, 0), hashA(1, 5), manA(0, 2), consA(3), layA(0, 1), codA(0, 4),
      idxA(2, 0), ipqA(1, 0), pkdA(1, 0), feaA(3, 0)))
    assert(routed("pairs") === "rebuild")
    // membership stores: ROT OUTRANKS STRUCTURAL — a coverage gap with
    // dups alongside must reingest first (repair-first would let
    // delete-dominance remove the missing docs' healthy-store rows, and
    // the corpus-covering reingest clears the dups in the same pass)
    assert(routed("hashes") === "reingest")
    assert(routed("manifest") === "reingest") // rot only
    assert(routed("xstore") === "repair")
    assert(routed("layout") === "rebuild")  // norm rot rebuilds the layout
    assert(routed("codes") === "reencode")
    // r15 stores: each damage class routes to its store's one remedy;
    // a features coverage gap takes the partition-granular backfill
    assert(routed("index") === "rebuild")
    assert(routed("ivfpq") === "reencode")
    assert(routed("packed") === "repack")
    assert(routed("features") === "backfill")
    // structural-only membership damage still routes to repair
    val structOnly = actions(Dedup.maintenancePlanDf(
      pairsA(0, 0), hashA(2, 0), manA(3, 0), consA(0), layA(0, 0), codA(0, 0),
      idxA(0, 0), ipqA(0, 0), pkdA(0, 0), feaA(0, 2)))
    assert(structOnly("hashes") === "repair")
    assert(structOnly("manifest") === "repair")
    // feature-content rot needs the full re-derive, not an add-only backfill
    assert(structOnly("features") === "rebuild")
    val rotOnly = actions(Dedup.maintenancePlanDf(
      pairsA(0, 0), hashA(0, 7), manA(1, 0), consA(0), layA(2, 0), codA(1, 0),
      idxA(0, 3), ipqA(0, 2), pkdA(0, 1), feaA(0, 0)))
    assert(rotOnly("hashes") === "reingest")
    assert(rotOnly("manifest") === "repair")
    assert(rotOnly("layout") === "rebuild")
    assert(rotOnly("codes") === "reencode")
    assert(rotOnly("pairs") === "none")
    assert(rotOnly("xstore") === "none")
    assert(rotOnly("index") === "rebuild")
    assert(rotOnly("ivfpq") === "reencode")
    assert(rotOnly("packed") === "repack")
    assert(rotOnly("features") === "none")
    // corpus-orphans cannot be fixed store-locally (storeRepair keeps
    // any doc present in both stores): they must route to reingest
    val orphans = actions(Dedup.maintenancePlanDf(
      pairsA(0, 0),
      Seq((0L, 0L, 3L, 0L)).toDF("n_multi", "n_missing", "n_orphans",
        "n_hash_mismatch"),
      Seq((0L, 0L, 0L, 0L, 2L, 0L)).toDF("n_formula_bad", "n_adjacency_bad",
        "n_dup_rows", "n_missing", "n_orphans", "n_tok_mismatch"),
      consA(0), layA(0, 0), codA(0, 0),
      idxA(0, 0), ipqA(0, 0), pkdA(0, 0), feaA(0, 0)))
    assert(orphans("hashes") === "reingest")
    assert(orphans("manifest") === "reingest")
  }

  test("runMaintenance converges: mixed corruption across all ten stores plans all-none within bounded rounds") {
    import org.apache.spark.sql.functions.{col, lit, md5, when}
    val docs = Tables.documents(spark, dir).localCheckpoint()
    val emb = Tables.embeddings(spark, dir).localCheckpoint()
    val cents = Ivf.trainCentroids(emb)
    val codebooks = Pq.trainCodebooks(emb)
    val healthyP = Dedup.minhashPairsDf(docs).localCheckpoint()
    val docM = healthyP.orderBy("doc_a", "doc_b").head().getLong(0) // vanished
    val two = docs.filter(col("doc_id") =!= docM).orderBy("doc_id")
      .limit(2).collect().map(_.getAs[Long]("doc_id"))
    val docB = two(0) // replayed
    val docR = two(1) // rotten hash
    val root = tempDir("run_maint")
    val (hP, mP, pP) = (root.resolve("hashes").toString,
      root.resolve("manifest").toString, root.resolve("pairs").toString)
    val (lP, cP) = (root.resolve("layout").toString, root.resolve("codes").toString)
    val iP = root.resolve("index").toString
    val (qP, kP, fP) = (root.resolve("ivfpq").toString,
      root.resolve("packed").toString, root.resolve("features").toString)
    val healthyH = docs.select(md5(col("text").cast("binary")).as("h"),
      col("doc_id"), (col("doc_id") % 3).as("batch"))
    healthyH.filter(col("doc_id") =!= docM)
      .unionByName(healthyH.filter(col("doc_id") === docB)
        .withColumn("batch", lit(9L)))
      .withColumn("h", when(col("doc_id") === docR, lit("0" * 32))
        .otherwise(col("h")))
      .publishTo(hP, "batch")
    Packing.packSequences(docs).publishTo(mP)
    healthyP.publishTo(pP)
    // layout with one misassigned row; codes with one rotten code
    Ivf.assignLists(emb, cents)
      .select(col("vec_id"), col("embedding"),
        graft.functions.VectorFns.l2norm(col("embedding")).as("nrm"),
        when(col("vec_id") === 0L, (col("list_id") + 1) % cents.size)
          .otherwise(col("list_id")).as("list_id"))
      .publishTo(lP, "list_id")
    Pq.encodeCorpus(emb, codebooks)
      .withColumn("codes", when(col("vec_id") === 0L,
        org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.array((col("codes")(0) + 1) % Pq.Ksub),
          org.apache.spark.sql.functions.slice(col("codes"), 2, Pq.M - 1)))
        .otherwise(col("codes")))
      .publishTo(cP)
    // r15 stores, each with its own damage class: the sketch index
    // misses a doc, the ivfpq layout misassigns a row, the packed store
    // replays a doc, the feature artifact misses a whole partition
    Dedup.indexInit(docs.filter(col("doc_id") =!= docM), iP)
    Pq.ivfPqLayoutFrame(emb, cents, codebooks)
      .withColumn("list_id", when(col("vec_id") === 0L,
        (col("list_id") + 1) % cents.size).otherwise(col("list_id")))
      .publishTo(qP, "list_id")
    val packedHealthy = Packing.packedFrame(docs)
    packedHealthy.unionByName(packedHealthy.limit(1))
      .publishTo(kP, "shard")
    // feature artifact: one whole partition missing AND one torn
    // partition (partial rows inside a still-covered source — invisible
    // to the listing-level diff, so convergence needs the row-granular
    // remedy the plan routes `backfill` to)
    Backfill.featureDf(docs.filter(col("source") =!= "src9"))
      .filter(!(col("source") === "src3" && col("doc_id") % 7 === 0))
      .publishTo(fP)
    val finalPlan = Dedup.runMaintenance(docs, emb, hP, mP, pP, lP,
      cents, codebooks, cP, iP, qP, kP, fP).collect()
    finalPlan.foreach { r =>
      assert(r.getAs[String]("action") === "none",
        s"${r.getString(0)} still plans ${r.getAs[String]("action")}")
      assert(r.getAs[Long]("n_structural") === 0L, r.getString(0))
      assert(r.getAs[Long]("n_rot") === 0L, r.getString(0))
    }
    // converged state equals the from-scratch derivation of every store
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(graft.ops.Publish.readLive(spark, hP).select(col("h"), col("doc_id"))) ===
      rows(healthyH.select(col("h"), col("doc_id"))))
    // the restored row landed in the explicit backfill batch
    assert(graft.ops.Publish.readLive(spark, hP).filter(col("doc_id") === docM)
      .head().getAs[Number]("batch").longValue === -1L)
    assert(rows(graft.ops.Publish.readLive(spark, mP)) === rows(Packing.packSequences(docs)))
    assert(rows(Dedup.pairsArtifactRead(spark, pP)) === rows(healthyP))
    assert(rows(graft.ops.Publish.readLive(spark, cP)) === rows(Pq.encodeCorpus(emb, codebooks)))
    assert(rows(graft.ops.Publish.readLive(spark, lP)
        .select(col("vec_id"), col("nrm"), col("list_id").cast("int"))) ===
      rows(Ivf.assignLists(emb, cents).select(col("vec_id"),
        graft.functions.VectorFns.l2norm(col("embedding")).as("nrm"),
        col("list_id").cast("int"))))
    // r15 stores converge to their from-scratch derivations too
    assert(rows(graft.ops.StoreIO.read(spark, s"$iP/shingles",
        Some(Dedup.ShinglesDdl))) === rows(Dedup.shingleTable(docs)))
    assert(rows(graft.ops.Publish.readLive(spark, qP)
        .select(col("vec_id"), col("codes"), col("list_id").cast("int"))) ===
      rows(Pq.ivfPqLayoutFrame(emb, cents, codebooks)
        .select(col("vec_id"), col("codes"), col("list_id").cast("int"))))
    assert(rows(graft.ops.Publish.readLive(spark, kP).select(col("doc_id"), col("t_off"))) ===
      rows(Packing.packedFrame(docs).select(col("doc_id"), col("t_off"))))
    // the feature gap was BACKFILLED: full coverage, original rows kept
    assert(rows(graft.ops.Publish.readLive(spark, fP)) === rows(Backfill.featureDf(docs)))
    // idempotence: a healthy state plans nothing and nothing is rewritten
    val again = Dedup.runMaintenance(docs, emb, hP, mP, pP, lP,
      cents, codebooks, cP, iP, qP, kP, fP).collect()
    again.foreach(r => assert(r.getAs[String]("action") === "none"))

    // LOST APPEND: the hash store alone is missing a pair endpoint.
    // Reingest must restore it WITHOUT delete-dominance first deleting
    // the healthy manifest/pair rows for the same doc (the reingest-
    // before-repair ordering) — the pair artifact must come out
    // UNTOUCHED, not rebuilt-after-deletion.
    val root2 = tempDir("run_maint_lost")
    val (hP2, mP2, pP2) = (root2.resolve("hashes").toString,
      root2.resolve("manifest").toString, root2.resolve("pairs").toString)
    healthyH.filter(col("doc_id") =!= docM)
      .publishTo(hP2, "batch")
    Packing.packSequences(docs).publishTo(mP2)
    healthyP.publishTo(pP2)
    val fp2 = Dedup.runMaintenance(docs, emb, hP2, mP2, pP2, lP,
      cents, codebooks, cP, iP, qP, kP, fP).collect()
    fp2.foreach(r => assert(r.getAs[String]("action") === "none",
      s"lost-append: ${r.getString(0)}"))
    assert(rows(graft.ops.Publish.readLive(spark, hP2).select(col("h"), col("doc_id"))) ===
      rows(healthyH.select(col("h"), col("doc_id"))))
    assert(rows(Dedup.pairsArtifactRead(spark, pP2)) === rows(healthyP))

    // CORPUS ORPHAN: the corpus lost a doc but every store still holds
    // it — store-local repair can never fix this (member = hIds ∩ mIds
    // keeps it), so the plan must route it to the corpus-covering
    // reingest, and the doc's pairs fall to the cross-store pass.
    val docs2 = docs.filter(col("doc_id") =!= docM).localCheckpoint()
    val root3 = tempDir("run_maint_orphan")
    val (hP3, mP3, pP3) = (root3.resolve("hashes").toString,
      root3.resolve("manifest").toString, root3.resolve("pairs").toString)
    healthyH.publishTo(hP3, "batch")
    Packing.packSequences(docs).publishTo(mP3)
    healthyP.publishTo(pP3)
    // the r15 stores (converged on the FULL corpus above) now carry
    // docM as a corpus orphan — the loop must rebuild them on docs2
    val fp3 = Dedup.runMaintenance(docs2, emb, hP3, mP3, pP3, lP,
      cents, codebooks, cP, iP, qP, kP, fP).collect()
    fp3.foreach(r => assert(r.getAs[String]("action") === "none",
      s"orphan: ${r.getString(0)}"))
    assert(graft.ops.Publish.readLive(spark, hP3).filter(col("doc_id") === docM).count() === 0L)
    assert(graft.ops.Publish.readLive(spark, mP3).filter(col("doc_id") === docM).count() === 0L)
    assert(Dedup.pairsArtifactRead(spark, pP3)
      .filter(col("doc_a") === docM || col("doc_b") === docM).count() === 0L)
  }

  test("runMaintenance recovery: a vanished store plans a rebuild, a crashed swap is settled, never a throw") {
    import org.apache.spark.sql.functions.{col, md5}
    val docs = Tables.documents(spark, dir).localCheckpoint()
    val emb = Tables.embeddings(spark, dir).localCheckpoint()
    val cents = Ivf.ensureModel(spark, dir)
    val codebooks = Pq.ensureModel(spark, dir)
    val healthyP = Dedup.minhashPairsDf(docs).localCheckpoint()
    val healthyH = docs.select(md5(col("text").cast("binary")).as("h"),
      col("doc_id"), (col("doc_id") % 3).as("batch")).localCheckpoint()
    def stage(): (String, String, String, String, String, String, String,
        String, String) = {
      val root = tempDir("maint_recover")
      val (hP, mP, pP) = (root.resolve("hashes").toString,
        root.resolve("manifest").toString, root.resolve("pairs").toString)
      val (lP, cP) = (root.resolve("layout").toString,
        root.resolve("codes").toString)
      val iP = root.resolve("index").toString
      val (qP, kP, fP) = (root.resolve("ivfpq").toString,
        root.resolve("packed").toString, root.resolve("features").toString)
      healthyH.publishTo(hP, "batch")
      Packing.packSequences(docs).publishTo(mP)
      healthyP.publishTo(pP)
      Ivf.writeIvfPartitioned(emb, cents, lP)
      Pq.encodeCorpus(emb, codebooks).publishTo(cP)
      Dedup.indexInit(docs, iP)
      Pq.ivfPqLayoutFrame(emb, cents, codebooks)
        .publishTo(qP, "list_id")
      Packing.packedFrame(docs).publishTo(kP, "shard")
      Backfill.featureDf(docs).publishTo(fP)
      (hP, mP, pP, lP, cP, iP, qP, kP, fP)
    }
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val fs = new org.apache.hadoop.fs.Path("/tmp")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    // VANISHED STORES (the #1 crash-window outcome, or operator damage):
    // the hash store and the pairs artifact are gone entirely — the
    // audits must observe the loss as a total coverage gap and the loop
    // must rebuild from the corpus, not throw on the missing paths
    val (hP1, mP1, pP1, lP1, cP1, iP1, qP1, kP1, fP1) = stage()
    fs.delete(new org.apache.hadoop.fs.Path(hP1), true)
    fs.delete(new org.apache.hadoop.fs.Path(pP1), true)
    val fp1 = Dedup.runMaintenance(docs, emb, hP1, mP1, pP1, lP1,
      cents, codebooks, cP1, iP1, qP1, kP1, fP1).collect()
    fp1.foreach(r => assert(r.getAs[String]("action") === "none",
      s"vanished: ${r.getString(0)} plans ${r.getAs[String]("action")}"))
    assert(rows(graft.ops.Publish.readLive(spark, hP1).select(col("h"), col("doc_id"))) ===
      rows(healthyH.select(col("h"), col("doc_id"))))
    // every restored hash row lands in the backfill batch (no carried state)
    assert(graft.ops.Publish.readLive(spark, hP1)
      .filter(col("batch").cast("long") =!= -1L).count() === 0L)
    assert(rows(Dedup.pairsArtifactRead(spark, pP1)) === rows(healthyP))

    // CRASHED SWAP: a publish died after staging a complete version but
    // before its pointer commit — the staged version holds a damaged
    // frame that must never serve. The recovery pre-pass drops it; the
    // plan then audits the committed store and schedules nothing.
    val (hP2, mP2, pP2, lP2, cP2, iP2, qP2, kP2, fP2) = stage()
    intercept[RuntimeException] {
      graft.ops.Publish.publishImpl(spark, pP2, healthyP.limit(1), Nil,
        crashAfter = graft.ops.Publish.AfterStage)
    }
    val fp2 =
      try Dedup.runMaintenance(docs, emb, hP2, mP2, pP2, lP2,
        cents, codebooks, cP2, iP2, qP2, kP2, fP2).collect()
      catch { case e: Throwable => fail(s"crashed swap not recovered: $e") }
    fp2.foreach(r => assert(r.getAs[String]("action") === "none",
      s"crashed-swap: ${r.getString(0)}"))
    assert(rows(Dedup.pairsArtifactRead(spark, pP2)) === rows(healthyP))
  }

  test("tombstone takedowns: served views ≡ post-rewrite stores, delta ≡ rewrite delta, compaction folds to the rewrite state") {
    import org.apache.spark.sql.functions.{col, lit, md5}
    import graft.ops.StoreIO
    val docs = Tables.documents(spark, dir).localCheckpoint()
    def stage(): (String, String, String, String) = {
      val root = tempDir("tomb")
      val idx = root.resolve("index").toString
      val pairs = root.resolve("pairs").toString
      val hashes = root.resolve("hashes").toString
      val manifest = root.resolve("manifest").toString
      Dedup.indexInit(docs, idx)
      Dedup.pairsArtifactInit(docs, pairs)
      docs.select(md5(col("text").cast("binary")).as("h"), col("doc_id"),
          lit(0L).as("batch"))
        .publishTo(hashes, "batch")
      Packing.packSequences(docs).publishTo(manifest)
      (idx, pairs, hashes, manifest)
    }
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    // src7 alone forces no re-election at this SF: add one cluster
    // CANONICAL (min member of a cluster with ≥1 other surviving
    // member) so the delta is provably nonempty — the StreamingSpec
    // delete-apply rule
    import spark.implicits._
    val srcIds = docs.filter(col("source") === "src7").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val labels = Cluster.connectedComponents(
        Dedup.minhashPairsDf(docs)
          .select(col("doc_a").as("u"), col("doc_b").as("v")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val canonical = labels.groupBy(_._2).collect {
      case (l, m) if !srcIds(l) &&
        m.keys.count(d => d != l && !srcIds(d)) >= 1 => l
    }.min
    val del = (srcIds + canonical).toSeq.sorted.toDF("doc_id")

    // A carries tombstones; B is the physical rewrite twin
    val (idxA, pairsA, hashesA, manA) = stage()
    val (idxB, pairsB, hashesB, manB) = stage()
    val tombsPath = tempDir("tomb_store")
      .resolve("tombs").toString
    Dedup.tombstoneAppend(del, tombsPath, token = "t1")
    Dedup.tombstoneAppend(del, tombsPath, token = "t1") // replay: same child
    val tombs = Dedup.tombstonesRead(spark, tombsPath).localCheckpoint()
    val deltaB = Dedup.deleteApply(del, idxB, pairsB, Some(hashesB), Some(manB))
      .localCheckpoint()

    // served (merge-on-read) views equal the post-rewrite stores exactly
    assert(rows(Dedup.pairsServed(Dedup.pairsArtifactRead(spark, pairsA), tombs))
      === rows(Dedup.pairsArtifactRead(spark, pairsB)))
    assert(rows(Dedup.docStoreServed(
        StoreIO.read(spark, hashesA, Some(Dedup.HashStoreDdl)), tombs))
      === rows(StoreIO.read(spark, hashesB, Some(Dedup.HashStoreDdl))))
    assert(rows(Dedup.docStoreServed(
        StoreIO.read(spark, s"$idxA/bands", Some(Dedup.BandsDdl)), tombs))
      === rows(StoreIO.read(spark, s"$idxB/bands", Some(Dedup.BandsDdl))))
    // the manifest is positional: the served form is a repack of the
    // filtered rows (a recompute, not a filter) — equal to the rewrite
    assert(rows(Packing.repackManifest(Dedup.docStoreServed(
        graft.ops.Publish.readLive(spark, manA), tombs)))
      === rows(graft.ops.Publish.readLive(spark, manB)))

    // the tombstone delta equals the rewrite's re-election delta
    val beforeA = Dedup.pairsArtifactRead(spark, pairsA)
    val deltaA = Dedup.reElectionDelta(beforeA,
      Dedup.pairsServed(beforeA, tombs), tombs)
    assert(rows(deltaA) === rows(deltaB))
    assert(deltaA.count() > 0, "src7 must force at least one re-election")

    // compaction folds the tombstones into the physical stores —
    // post-state equals the rewrite twin, tombstones retired
    val deltaC = Dedup.tombstoneCompact(spark, tombsPath, idxA, pairsA,
      Some(hashesA), Some(manA))
    assert(rows(deltaC) === rows(deltaB))
    assert(Dedup.tombstonesRead(spark, tombsPath).count() === 0L)
    assert(rows(Dedup.pairsArtifactRead(spark, pairsA))
      === rows(Dedup.pairsArtifactRead(spark, pairsB)))
    assert(rows(StoreIO.read(spark, hashesA, Some(Dedup.HashStoreDdl)))
      === rows(StoreIO.read(spark, hashesB, Some(Dedup.HashStoreDdl))))
    assert(rows(graft.ops.Publish.readLive(spark, manA)) === rows(graft.ops.Publish.readLive(spark, manB)))
    // idempotence: a second compaction with nothing pending is a pure
    // no-op — empty delta AND no store rewritten (the physical file
    // listing is untouched, not just row-equal)
    def listing(p: String): Seq[String] = {
      val fs = new org.apache.hadoop.fs.Path(p)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(new org.apache.hadoop.fs.Path(p))
        .map(s => s.getPath.getName + ":" + s.getModificationTime).sorted.toSeq
    }
    val before2 = listing(pairsA)
    assert(Dedup.tombstoneCompact(spark, tombsPath, idxA, pairsA,
      Some(hashesA), Some(manA)).count() === 0L)
    assert(listing(pairsA) === before2,
      "an empty compaction must not rewrite the stores")
  }

  test("vector tombstones: tombstoned served search ≡ search over a layout rewritten on survivors, pruning intact") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, dir).localCheckpoint()
    val cents = Ivf.ensureModel(spark, dir)
    val deleted = Ivf.standingVecTombstones(emb)
      .collect().map(_.getLong(0)).toSet
    assert(deleted.nonEmpty, "the standing takedown must delete something")
    assert(deleted.forall(_ >= 5), "takedown must not touch the query block")
    val tombstoned = Ivf.annIvfSearchTombstoned(spark, dir)
    val tRows = tombstoned.collect().map(_.toString).toSeq
    // no deleted vector is served
    assert(!tombstoned.collect().exists(r => deleted(r.getLong(1))))
    // equality with the EXPENSIVE form: a layout physically rewritten
    // on the survivors, searched identically
    val survivors = emb.filter(!(col("vec_id") % 50 === 17)).localCheckpoint()
    val rewritten = tempDir("vec_rewrite")
      .resolve("corpus").toString
    Ivf.writeIvfPartitioned(survivors, cents, rewritten)
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_emb"))
    val direct = Ivf.ivfSearchPartitioned(spark, rewritten, queries, cents, k = 5)
      .collect().map(_.toString).toSeq
    assert(tRows === direct)
    // the tombstone anti-join must not defeat partition pruning: the
    // served plan still carries a PartitionFilters prune on list_id
    val tombsPath = tempDir("vec_tombs_plan")
      .resolve("tombs").toString
    Dedup.tombstoneAppend(Ivf.standingVecTombstones(emb), tombsPath)
    val tombs = Dedup.tombstonesRead(spark, tombsPath).localCheckpoint()
    val plan = Ivf.ivfSearchPartitioned(spark, Ivf.ensureLayout(spark, dir),
        queries, cents, k = 5, served = Ivf.servedMinus(_, tombs))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") &&
      plan.contains("list_id"), "pruning lost under the tombstone join")
  }

  test("store repair report matches an independent set-arithmetic reimplementation on randomized corruptions") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val rnd = new scala.util.Random(20260816L)
    val n = 80
    val ids = (0L until n.toLong).toSet
    val docs = ids.toSeq.sorted.map(i => (i, s"doc $i body " * 3)).toDF("doc_id", "text")
    val healthyH = docs.select(
      org.apache.spark.sql.functions.md5(col("text").cast("binary")).as("h"),
      col("doc_id"), (col("doc_id") % 3).as("batch")).localCheckpoint()
    val healthyM = Packing.packSequences(docs).localCheckpoint()
    for (trial <- 1 to 4) {
      def randomSubset(p: Double): Set[Long] = ids.filter(_ => rnd.nextDouble() < p)
      val a = randomSubset(0.12) // vanished from the hash store
      val b = randomSubset(0.12) // vanished from the manifest
      val dupH = randomSubset(0.08) -- a // replayed hash rows
      val dupM = randomSubset(0.08) -- b // replayed manifest rows
      // arbitrary canonical pairs over the id space (the repair reads
      // pairs structurally; no similarity semantics involved)
      val pairSet = (1 to 40).map { _ =>
        val x = rnd.nextInt(n).toLong; val y = rnd.nextInt(n).toLong
        (math.min(x, y), math.max(x, y))
      }.filter(p => p._1 != p._2).distinct
      val dupP = pairSet.take(3)
      val pairs = (pairSet ++ dupP).map { case (x, y) => (x, y, 0.9) }
        .toDF("doc_a", "doc_b", "jaccard")
      val stagedH = healthyH.filter(!col("doc_id").isin(a.toSeq: _*))
        .unionByName(healthyH.filter(col("doc_id").isin(dupH.toSeq: _*))
          .withColumn("batch", lit(9L)))
      val stagedM = healthyM.filter(!col("doc_id").isin(b.toSeq: _*))
        .unionByName(healthyM.filter(col("doc_id").isin(dupM.toSeq: _*)))
      val r = Dedup.storeRepairDf(stagedH, stagedM, pairs).head()
      // the independent model: pure set arithmetic
      val member = ids -- a -- b
      val orphanPairs = pairSet.count(p => !member(p._1) || !member(p._2))
      assert(r.getAs[Long]("n_hash_dups_removed") === dupH.size.toLong, s"t$trial dupH")
      assert(r.getAs[Long]("n_manifest_dups_removed") === dupM.size.toLong, s"t$trial dupM")
      assert(r.getAs[Long]("n_pair_dups_removed") === dupP.size.toLong, s"t$trial dupP")
      assert(r.getAs[Long]("n_hash_drift_removed") === (b -- a).size.toLong, s"t$trial driftH")
      assert(r.getAs[Long]("n_manifest_drift_removed") === (a -- b).size.toLong, s"t$trial driftM")
      assert(r.getAs[Long]("n_pair_orphans_removed") === orphanPairs.toLong, s"t$trial orphans")
      assert(r.getAs[Long]("n_hash") === member.size.toLong, s"t$trial nH")
      assert(r.getAs[Long]("n_manifest") === member.size.toLong, s"t$trial nM")
      assert(r.getAs[Long]("n_pairs") ===
        (pairSet.size - orphanPairs).toLong, s"t$trial nP")
      // and the repaired frames obey the same model
      val (h2, m2, p2) = Dedup.storeRepairFrames(stagedH, stagedM, pairs)
      assert(h2.select("doc_id").collect().map(_.getLong(0)).toSet === member)
      assert(m2.select("doc_id").collect().map(_.getLong(0)).toSet === member)
      assert(p2.select("doc_a", "doc_b").collect()
        .map(x => (x.getLong(0), x.getLong(1))).toSet ===
        pairSet.filter(p => member(p._1) && member(p._2)).toSet)
    }
  }

  test("verified-pair artifact: artifact ≡ recompute, append-maintenance ≡ rebuild, derived report unchanged") {
    import org.apache.spark.sql.functions.col
    def toSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val docs = graft.Tables.documents(spark, dir)
    val full = toSet(Dedup.dedupMinhash(spark, dir))
    assert(full.nonEmpty)
    // 1. the driver-surface artifact (what every derived graph/report
    //    query now reads) equals the recompute path row for row
    assert(toSet(Dedup.verifiedPairs(spark, dir)) === full)
    // 2. maintenance: bootstrap on a prefix, append each later batch's
    //    incremental probe output — the MAINTAINED artifact equals a
    //    from-scratch rebuild (exactly-once pair emission makes the
    //    union of deltas the full pair set, independent of batch cuts)
    val idx = tempDir("pairs_idx").toString
    val artPath = tempDir("pairs_art")
      .resolve("pairs").toString
    Dedup.indexInit(docs.filter(col("doc_id") < 250), idx)
    Dedup.pairsArtifactInit(docs.filter(col("doc_id") < 250), artPath)
    Seq((250L, 375L), (375L, Long.MaxValue)).foreach { case (lo, hi) =>
      val delta = Dedup.indexIncremental(
        docs.filter(col("doc_id") >= lo && col("doc_id") < hi), idx)
      Dedup.pairsArtifactAppend(delta, artPath)
    }
    assert(toSet(Dedup.pairsArtifactRead(spark, artPath)) === full)
    // 3. a derived report fed from the maintained artifact equals the
    //    same report fed from the recompute pipeline
    def report(pairs: org.apache.spark.sql.DataFrame) =
      Cluster.policyGapDf(docs, pairs).collect().map(_.toString).toSeq
    assert(report(Dedup.pairsArtifactRead(spark, artPath)) ===
      report(Dedup.dedupMinhash(spark, dir)))
  }

  test("artifact audit: healthy artifact shows zero drift; injected drift is reported exactly") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val docs = graft.Tables.documents(spark, dir)
    def row(df: org.apache.spark.sql.DataFrame) = {
      val r = df.head()
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    }
    // healthy: sample covers the whole sf0.001 corpus, so the artifact
    // slice and the recompute agree completely
    val healthy = row(Dedup.artifactAuditDf(docs, Dedup.verifiedPairs(spark, dir)))
    assert(healthy._1 === docs.count())
    assert(healthy._2 === healthy._3 && healthy._2 > 0)
    assert(healthy._4 === 0L && healthy._5 === 0L)
    // corrupt the artifact: drop one real pair (→ missing), add one
    // fabricated pair between sample docs (→ extra)
    val pairs = Dedup.verifiedPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val dropped = pairs.head
    val pairedIds = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    val loner = docs.select("doc_id").collect().map(_.getLong(0))
      .filterNot(pairedIds).min
    val corrupted = (pairs.tail :+ ((dropped._1, loner, 0.9))).toSeq
      .toDF("doc_a", "doc_b", "jaccard")
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"), col("jaccard"))
    val bad = row(Dedup.artifactAuditDf(docs, corrupted))
    assert(bad._2 === healthy._2, "corrupted count: one dropped, one added")
    assert(bad._4 === 1L, s"exactly the dropped pair is missing: $bad")
    assert(bad._5 === 1L, s"exactly the fabricated pair is extra: $bad")
  }

  test("sample CI: estimator matches a driver-side recompute; full-corpus sample collapses to exact") {
    import org.apache.spark.sql.functions.{col, size}
    val docs = graft.Tables.documents(spark, dir)
    // full-coverage sample (sf0.001 has 500 docs < default 1024): the
    // estimate IS the exact mean and the interval must contain it
    Curation.sampleCiDf(docs).collect().foreach { r =>
      assert(r.getAs[Long]("n_sample") === docs.count())
      assert(r.getAs[Double]("est_mean") === r.getAs[Double]("exact_mean"))
      assert(r.getAs[Boolean]("within_ci"))
      assert(r.getAs[Double]("ci_lo") < r.getAs[Double]("ci_hi"))
    }
    // true subsample: recompute mean and the 95% half-width driver-side
    // from the identical sampled rows (same integer sums, same doubles)
    val n = 100
    val sampled = docs
      .orderBy(graft.functions.VectorFns.mix64(col("doc_id")), col("doc_id"))
      .limit(n)
      .select(size(graft.functions.TextFns.tokens(col("text"))).cast("long"))
      .collect().map(_.getLong(0))
    val s = sampled.sum.toDouble
    val ss = sampled.map(v => v * v).sum.toDouble
    val mean = s / n
    val half = 1.96 * math.sqrt(math.max((ss - s * s / n) / (n - 1), 0.0)) / math.sqrt(n.toDouble)
    val tokRow = Curation.sampleCiDf(docs, n = n)
      .filter(col("metric") === "tok").head()
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(tokRow.getAs[Double]("est_mean") === r4(mean))
    assert(tokRow.getAs[Double]("ci_lo") === r4(mean - half))
    assert(tokRow.getAs[Double]("ci_hi") === r4(mean + half))
    // degenerate sample: no variance estimate — zero-width interval,
    // never NaN
    Curation.sampleCiDf(docs, n = 1).collect().foreach { r =>
      assert(r.getAs[Double]("ci_lo") === r.getAs[Double]("ci_hi"))
      assert(!r.getAs[Double]("ci_lo").isNaN)
    }
  }

  test("served PQ search over stored codes equals the fresh-encode search row for row") {
    val got = Pq.annPqSearchServed(spark, dir).collect().toSeq
    val ref = Pq.annPqSearch(spark, dir).collect().toSeq
    assert(got.nonEmpty)
    assert(got === ref)
  }

  test("hash-store audit: healthy store is all-zero; every corruption class is caught") {
    import org.apache.spark.sql.functions.{col, lit, md5, when}
    val docs = graft.Tables.documents(spark, dir)
    val n = docs.count()
    val store = docs
      .select(md5(col("text").cast("binary")).as("h"), col("doc_id"),
        (col("doc_id") % 3).as("batch"))
      .localCheckpoint()
    def audit(s: org.apache.spark.sql.DataFrame) =
      Dedup.hashStoreAuditDf(docs, s, docs).head()
    val healthy = audit(store)
    assert(healthy.getAs[Long]("n_store") === n)
    assert(healthy.getAs[Long]("n_batches") === 3L)
    assert(healthy.getAs[Long]("n_multi") === 0L)
    assert(healthy.getAs[Long]("n_missing") === 0L)
    assert(healthy.getAs[Long]("n_orphans") === 0L)
    assert(healthy.getAs[Long]("sample_n") === n)
    assert(healthy.getAs[Long]("n_hash_mismatch") === 0L)
    val someId = store.agg(org.apache.spark.sql.functions.min(col("doc_id")))
      .head().getLong(0)
    // replayed batch: one doc_id twice
    val replayed = store.unionByName(store.filter(col("doc_id") === someId)
      .withColumn("batch", lit(9L)))
    val rep = audit(replayed)
    assert(rep.getAs[Long]("n_multi") === 1L)
    // the replayed doc is sampled once: sample_n stays the sample size
    assert(rep.getAs[Long]("sample_n") === n)
    // missed row / stale orphan
    assert(audit(store.filter(col("doc_id") =!= someId))
      .getAs[Long]("n_missing") === 1L)
    assert(audit(store.unionByName(store.filter(col("doc_id") === someId)
        .withColumn("doc_id", col("doc_id") + 5000000L)))
      .getAs[Long]("n_orphans") === 1L)
    // bit rot: one stored hash no longer matches its document
    val rotten = store.withColumn("h",
      when(col("doc_id") === someId, lit("0" * 32)).otherwise(col("h")))
    assert(audit(rotten).getAs[Long]("n_hash_mismatch") === 1L)
  }

  test("cross-store consistency: healthy zeros; a partial delete apply is reported exactly") {
    import org.apache.spark.sql.functions.{col, md5}
    val docs = graft.Tables.documents(spark, dir)
    val hashes = docs
      .select(md5(col("text").cast("binary")).as("h"), col("doc_id"),
        (col("doc_id") % 3).as("batch")).localCheckpoint()
    val manifest = Packing.packSequences(docs).localCheckpoint()
    val pairs = Dedup.minhashPairsDf(docs).localCheckpoint()
    val healthy = Dedup.storeConsistencyDf(hashes, manifest, pairs).head()
    assert(healthy.getAs[Long]("n_hash") === docs.count())
    assert(healthy.getAs[Long]("n_manifest") === docs.count())
    assert(healthy.getAs[Long]("n_pairs") === pairs.count())
    assert(healthy.getAs[Long]("n_manifest_not_hash") === 0L)
    assert(healthy.getAs[Long]("n_hash_not_manifest") === 0L)
    assert(healthy.getAs[Long]("n_pair_endpoints_unregistered") === 0L)
    // crash window: the takedown rewrote the hash store, then died
    // before the manifest and pair rewrites — every store still audits
    // healthy alone; only the cross-check sees it
    val del = pairs.select(col("doc_a")).head().getLong(0)
    val partial = hashes.filter(col("doc_id") =!= del)
    val r = Dedup.storeConsistencyDf(partial, manifest, pairs).head()
    assert(r.getAs[Long]("n_manifest_not_hash") === 1L)
    assert(r.getAs[Long]("n_hash_not_manifest") === 0L)
    assert(r.getAs[Long]("n_pair_endpoints_unregistered") === 1L)
    // the reverse direction: manifest lost a row the registry kept
    val r2 = Dedup.storeConsistencyDf(hashes,
      manifest.filter(col("doc_id") =!= del), pairs).head()
    assert(r2.getAs[Long]("n_hash_not_manifest") === 1L)
    assert(r2.getAs[Long]("n_manifest_not_hash") === 0L)
  }

  test("store repair: healthy stores untouched; replay dups and partial-apply drift repaired to audit-green, idempotently") {
    import org.apache.spark.sql.functions.{col, lit, md5}
    val docs = graft.Tables.documents(spark, dir).localCheckpoint()
    val nDocs = docs.count()
    val healthyH = docs
      .select(md5(col("text").cast("binary")).as("h"), col("doc_id"),
        (col("doc_id") % 3).as("batch")).localCheckpoint()
    val healthyM = Packing.packSequences(docs).localCheckpoint()
    val healthyP = Dedup.minhashPairsDf(docs).localCheckpoint()
    // healthy: the repair plan is a no-op with exact post sizes
    val clean = Dedup.storeRepairDf(healthyH, healthyM, healthyP).head()
    for (c <- Seq("n_hash_dups_removed", "n_manifest_dups_removed",
        "n_pair_dups_removed", "n_hash_drift_removed",
        "n_manifest_drift_removed", "n_pair_orphans_removed"))
      assert(clean.getAs[Long](c) === 0L, c)
    assert(clean.getAs[Long]("n_hash") === nDocs)
    assert(clean.getAs[Long]("n_manifest") === nDocs)
    assert(clean.getAs[Long]("n_pairs") === healthyP.count())
    // corruption staging: docA vanished from the hash store only (a
    // takedown that crashed after its first rewrite), docC vanished
    // from the manifest only (the reverse crash window), docB's row
    // replayed in both row stores, one pair row replayed
    val pRows = healthyP.orderBy("doc_a", "doc_b").limit(2).collect()
    val docA = pRows(0).getAs[Long]("doc_a")
    val docB = pRows(0).getAs[Long]("doc_b")
    val docC = docs.filter(col("doc_id") =!= docA && col("doc_id") =!= docB)
      .agg(org.apache.spark.sql.functions.max(col("doc_id"))).head().getLong(0)
    val dupPair = healthyP // a replayed pair not touching docA/docC
      .filter(col("doc_a") =!= docA && col("doc_b") =!= docA &&
        col("doc_a") =!= docC && col("doc_b") =!= docC)
      .limit(1)
    assert(dupPair.count() === 1L)
    val stagedH = healthyH.filter(col("doc_id") =!= docA)
      .unionByName(healthyH.filter(col("doc_id") === docB)
        .withColumn("batch", lit(9L)))
    val stagedM = healthyM.filter(col("doc_id") =!= docC)
      .unionByName(healthyM.filter(col("doc_id") === docB))
    val stagedP = healthyP.unionByName(dupPair)
    val root = tempDir("store_repair")
    val (hP, mP, pP) = (root.resolve("hashes").toString,
      root.resolve("manifest").toString, root.resolve("pairs").toString)
    stagedH.publishTo(hP, "batch")
    stagedM.publishTo(mP)
    stagedP.publishTo(pP)
    val nOrphan = healthyP
      .filter(col("doc_a") === docA || col("doc_b") === docA ||
        col("doc_a") === docC || col("doc_b") === docC).count()
    assert(nOrphan >= 1L)
    val rep = Dedup.storeRepair(spark, hP, mP, pP).head()
    assert(rep.getAs[Long]("n_hash_dups_removed") === 1L)
    assert(rep.getAs[Long]("n_manifest_dups_removed") === 1L)
    assert(rep.getAs[Long]("n_pair_dups_removed") === 1L)
    assert(rep.getAs[Long]("n_hash_drift_removed") === 1L)    // docC
    assert(rep.getAs[Long]("n_manifest_drift_removed") === 1L) // docA
    assert(rep.getAs[Long]("n_pair_orphans_removed") === nOrphan)
    assert(rep.getAs[Long]("n_hash") === nDocs - 2L)
    assert(rep.getAs[Long]("n_pairs") === healthyP.count() - nOrphan)
    // post-repair state: audit-green, hive layout kept, and EQUAL to a
    // from-scratch rebuild on the survivor corpus (delete-dominance)
    val (h2, m2, p2) = (graft.ops.Publish.readLive(spark, hP), graft.ops.Publish.readLive(spark, mP),
      Dedup.pairsArtifactRead(spark, pP))
    val cons = Dedup.storeConsistencyDf(h2, m2, p2).head()
    assert(cons.getAs[Long]("n_manifest_not_hash") === 0L)
    assert(cons.getAs[Long]("n_hash_not_manifest") === 0L)
    assert(cons.getAs[Long]("n_pair_endpoints_unregistered") === 0L)
    assert(new java.io.File(graft.ops.Publish.liveDir(spark, hP)).listFiles()
      .exists(_.getName.startsWith("batch=")))
    val survivors = docs.filter(col("doc_id") =!= docA && col("doc_id") =!= docC)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val h2rows = rows(h2.select("h", "doc_id", "batch"))
    assert(h2rows === rows(
      healthyH.filter(col("doc_id") =!= docA && col("doc_id") =!= docC)))
    assert(rows(m2) === rows(Packing.packSequences(survivors)))
    assert(rows(p2) === rows(healthyP
      .filter(col("doc_a") =!= docA && col("doc_b") =!= docA &&
        col("doc_a") =!= docC && col("doc_b") =!= docC)))
    // idempotence: a second repair reports all zeros and rewrites nothing
    val rep2 = Dedup.storeRepair(spark, hP, mP, pP).head()
    for (c <- Seq("n_hash_dups_removed", "n_manifest_dups_removed",
        "n_pair_dups_removed", "n_hash_drift_removed",
        "n_manifest_drift_removed", "n_pair_orphans_removed"))
      assert(rep2.getAs[Long](c) === 0L, c)
    assert(rows(graft.ops.Publish.readLive(spark, hP).select("h", "doc_id", "batch")) ===
      h2rows)
  }

  test("deleteApply is idempotent: a replayed takedown leaves state unchanged and emits an empty delta") {
    import org.apache.spark.sql.functions.{col, md5}
    val docs = graft.Tables.documents(spark, dir)
    val root = tempDir("delapply_idem")
    val idx = root.resolve("index").toString
    val pairs = root.resolve("pairs").toString
    val hashes = root.resolve("hashes").toString
    val manifest = root.resolve("manifest").toString
    Dedup.indexInit(docs, idx)
    Dedup.pairsArtifactInit(docs, pairs)
    docs.filter(col("doc_id") % 100 =!= 0)
      .select(md5(col("text").cast("binary")).as("h"), col("doc_id"),
        org.apache.spark.sql.functions.lit(0L).as("batch"))
      .publishTo(hashes, "batch")
    Packing.packSequences(docs).publishTo(manifest)
    val del = docs.filter(col("source") === "src7").select("doc_id")
    def snapshot(): Map[String, Seq[String]] =
      Seq("bands" -> s"$idx/bands", "shingles" -> s"$idx/shingles",
        "pairs" -> pairs, "hashes" -> hashes, "manifest" -> manifest)
        .map { case (k, p) =>
          k -> graft.ops.StoreIO.read(spark, p).collect().map(_.toString)
            .sorted.toSeq
        }.toMap
    val first = Dedup.deleteApply(del, idx, pairs, Some(hashes), Some(manifest))
      .collect()
    val afterFirst = snapshot()
    val second = Dedup.deleteApply(del, idx, pairs, Some(hashes), Some(manifest))
      .collect()
    assert(second.isEmpty,
      "a replayed takedown's re-election delta must be empty")
    assert(snapshot() === afterFirst,
      "a replayed takedown must leave every store unchanged")
    assert(first.length >= 0) // the first delta's size is corpus-dependent
  }

  test("deleteApply preserves the hash store's hive layout: ingest continues after a takedown") {
    import org.apache.spark.sql.functions.{col, md5}
    val docs = graft.Tables.documents(spark, dir).filter(col("doc_id") % 100 =!= 0)
    val root = tempDir("delapply_layout")
    val idx = root.resolve("index").toString
    val pairs = root.resolve("pairs").toString
    val hashes = root.resolve("hashes").toString
    Dedup.indexInit(docs.limit(0), idx)
    Dedup.pairsArtifactInit(docs.limit(0), pairs)
    def hashRows(d: org.apache.spark.sql.DataFrame, batch: Long) =
      d.select(md5(col("text").cast("binary")).as("h"), col("doc_id"),
        org.apache.spark.sql.functions.lit(batch).as("batch"))
    hashRows(docs.filter(col("doc_id") < 250), 0L).publishTo(hashes, "batch")
    val del = docs.filter(col("doc_id") < 30).select("doc_id")
    Dedup.deleteApply(del, idx, pairs, Some(hashes))
    // deleted docs' hashes are gone: a re-arriving copy reads as NEW
    val delIds = del.collect().map(_.getLong(0)).toSet
    val afterApply = graft.ops.Publish.readLive(spark, hashes)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(afterApply.intersect(delIds).isEmpty)
    // the store stays hive-partitioned, so the NEXT ingest batch
    // appends batch-keyed and the union read (with its batch filter —
    // the corpus-build stream's read path) still works
    assert(new java.io.File(graft.ops.Publish.liveDir(spark, hashes))
      .listFiles().exists(_.getName.startsWith("batch=")))
    graft.ops.StoreIO.append(hashRows(docs.filter(col("doc_id") >= 250), 1L),
      hashes)
    val all = graft.ops.StoreIO.read(spark, hashes, Some(Dedup.HashStoreDdl))
    assert(all.filter(col("batch") < 2).count() === all.count())
    assert(all.select("doc_id").collect().map(_.getLong(0)).toSet ===
      (docs.collect().map(_.getLong(0)).toSet -- delIds))
  }

  test("policyGapDf canonicalizes arbitrary pair orientation (reversed/symmetric inputs agree)") {
    import org.apache.spark.sql.functions.col
    val docs = graft.Tables.documents(spark, dir)
    val pairs = Dedup.dedupMinhash(spark, dir).select("doc_a", "doc_b")
    val canonical = Cluster.policyGapDf(docs, pairs).collect().map(_.toString).toSeq
    // fully reversed orientation
    val reversed = pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b"))
    assert(Cluster.policyGapDf(docs, reversed).collect().map(_.toString).toSeq
      === canonical)
    // symmetric (both orientations present) + a self-pair to discard
    val symmetric = pairs.unionByName(reversed)
      .unionByName(pairs.limit(1).select(col("doc_a"), col("doc_a").as("doc_b")))
    assert(Cluster.policyGapDf(docs, symmetric).collect().map(_.toString).toSeq
      === canonical)
  }

  test("trigram LM score: negative log-probs, one score per trigram-bearing doc, deterministic") {
    val got = Text.textLmScore(spark, dir).collect()
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), length(col("text")).as("n")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got.length === docs.count(_._2 >= 3))
    got.foreach { r =>
      assert(r.getDouble(1) < 0.0, s"log-prob must be negative: $r")
      // every position contributes one trigram, and self-training means
      // every trigram is in the model — nothing drops out of the join
      assert(r.getLong(2) === docs(r.getLong(0)) - 2L, s"trigram count off: $r")
    }
    val again = Text.textLmScore(spark, dir).collect()
    assert(got.map(_.toString).toSeq === again.map(_.toString).toSeq)
  }

  test("exact embedding dedup fails fast when a label block exceeds the guard") {
    val ex = intercept[IllegalArgumentException] {
      Dedup.dedupEmbedding(spark, dir, maxBlock = 1)
    }
    assert(ex.getMessage.contains("dedupEmbeddingLsh"))
    // the default guard admits the test corpus
    assert(Dedup.dedupEmbedding(spark, dir).count() === 50)
  }

  test("incremental index compaction: file count drops, probe results identical") {
    import org.apache.spark.sql.functions.col
    val docs = graft.Tables.documents(spark, dir)
    val idx = tempDir("minhash_compact").toString
    Dedup.indexInit(docs.filter(col("doc_id") < 250), idx)
    // accrete small files: five 50-doc batches, trigger high enough not to fire
    (250L until 500L by 50L).foreach { lo =>
      Dedup.indexIncremental(
        docs.filter(col("doc_id") >= lo && col("doc_id") < lo + 50), idx,
        compactTrigger = 10000)
    }
    // appends accrete DELTA CHILDREN (the StoreIO discipline: never
    // into the live dir a maintenance swap may be rewriting); the
    // fragment count — what a read must list — is the trigger currency
    val bandsBefore = graft.ops.StoreIO.fragmentCount(spark, s"$idx/bands")
    assert(bandsBefore >= 6, s"appends should accrete fragments, saw $bandsBefore")
    assert(graft.ops.StoreIO.deltaChildren(spark, s"$idx/bands").size === 5)
    val probe = () => Dedup.indexProbe(docs.filter(col("doc_id") >= 400), idx)
      .collect().map(_.toString).sorted.toSeq
    val before = probe()
    assert(before.nonEmpty)

    // a batch that trips the trigger folds the delta and compacts both
    // index dirs in-place
    Dedup.indexIncremental(docs.filter(col("doc_id") < 0), idx, compactTrigger = 2)
    assert(graft.ops.StoreIO.fragmentCount(spark, s"$idx/bands") < bandsBefore)
    assert(graft.ops.StoreIO.deltaChildren(spark, s"$idx/bands").isEmpty,
      "compaction must retire the folded delta children")
    assert(graft.ops.StoreIO.fragmentCount(spark, s"$idx/shingles") >= 1)
    assert(probe() === before, "compaction must not change probe results")
  }

  test("simhash pairs are true near-duplicates (precision check)") {
    val pairs = Dedup.dedupSimhash(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), TextFns.wordShingles(col("text"), 3).as("sh"))
    val a = docs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = docs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    val jByPair = a.join(b, col("doc_a") < col("doc_b"))
      .withColumn("j", TextFns.jaccard(col("sh_a"), col("sh_b")))
      .filter(col("j") >= 0.5)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every hamming<=3 pair must be a genuine high-jaccard near-dup
    assert(pairs.toSet.subsetOf(jByPair))
  }

  test("rolling-hash fingerprint: deterministic, window-min semantics") {
    import spark.implicits._
    val df = Seq(
      ("abcdefghijklmnop", 1L),
      ("abcdefghijklmnop", 2L), // same text -> same fingerprint
      ("zzzzzzzzzzzzzzzz", 3L),
      ("ab", 4L)                // shorter than window -> whole-string hash
    ).toDF("text", "id")
    val fps = df.select(col("id"), RollingHashFingerprint(col("text"), 8).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) === fps(2L))
    assert(fps(1L) !== fps(3L))
    // expected value from the shared reference implementation
    val expected = RollingHashFingerprint.fingerprint("ab".getBytes("UTF-8"), 8)
    assert(fps(4L) === expected)
    // a text containing the minimal window of another inherits its min
    val containing = RollingHashFingerprint.fingerprint("xxabcdefghijklmnopxx".getBytes("UTF-8"), 8)
    val contained = RollingHashFingerprint.fingerprint("abcdefghijklmnop".getBytes("UTF-8"), 8)
    assert(containing <= contained) // superset of windows -> min can only drop
  }

  test("winnowing: clamps, ordering, and the t = k + w - 1 guarantee") {
    import graft.functions.WinnowFingerprints
    def fps(s: String) =
      WinnowFingerprints.winnow(s.getBytes("UTF-8"), Text.WinnowK, Text.WinnowW)
    // sorted distinct output, deterministic
    val base = fps("The quick brown fox jumps over the lazy dog, repeatedly and at length.")
    assert(base.toSeq == base.toSeq.sorted && base.distinct.length == base.length)
    assert(base.toSeq == fps("The quick brown fox jumps over the lazy dog, repeatedly and at length.").toSeq)
    // shorter than the k-gram: whole-text hash, = the single-window fingerprint
    assert(fps("ab").toSeq ==
      Seq(RollingHashFingerprint.fingerprint("ab".getBytes("UTF-8"), Text.WinnowK)))
    // fewer hashes than the winnow window: one global minimum
    val short = "abcdefghijklmnopqrstuvwxyz" // 26 bytes -> 3 k-gram hashes < w=8
    assert(fps(short).toSeq ==
      Seq(RollingHashFingerprint.fingerprint(short.getBytes("UTF-8"), Text.WinnowK)))
    // the MOSS guarantee: a shared substring of >= k + w - 1 bytes always
    // yields a shared fingerprint (the w shared consecutive k-grams form a
    // full winnowing window in both documents; its minimum is selected in
    // both). 31 = 24 + 8 - 1.
    val run = "abcdefghijklmnopqrstuvwxyz01234"
    assert(run.length == Text.WinnowK + Text.WinnowW - 1)
    val a = fps("ONE unrelated preamble text " + run + " then tail one")
    val b = fps("a different opening entirely " + run + " closing words")
    assert(a.toSet.intersect(b.toSet).nonEmpty)
    // empty input
    assert(WinnowFingerprints.winnow(Array.emptyByteArray, Text.WinnowK, Text.WinnowW).isEmpty)
  }

  test("dedup_winnow matches a driver-side recomputation and covers the minhash pairs") {
    import graft.functions.WinnowFingerprints
    val sels = Tables.documents(spark, dir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        WinnowFingerprints.winnow(r.getString(1).getBytes("UTF-8"),
          Text.WinnowK, Text.WinnowW).toSet).toMap
    val dfc = sels.values.toSeq.flatten.groupBy(identity).map { case (h, v) => h -> v.size }
    val hot = dfc.filter(_._2 > Dedup.WinnowMaxDf).keySet
    // inverted index -> pair shared counts (only over capped fingerprints)
    val pairShared = scala.collection.mutable.Map.empty[(Long, Long), Int]
    val inv = sels.toSeq.flatMap { case (d, s) => s.iterator.filterNot(hot).map(_ -> d) }
      .groupBy(_._1)
    inv.values.foreach { hits =>
      val ds = hits.map(_._2).sorted
      for (i <- ds.indices; j <- i + 1 until ds.length)
        pairShared((ds(i), ds(j))) = pairShared.getOrElse((ds(i), ds(j)), 0) + 1
    }
    val expected = pairShared.collect {
      case ((da, db), n)
          if n >= Dedup.WinnowMinShared ||
            (n >= 2 && n.toDouble / math.min(sels(da).size, sels(db).size)
              >= Dedup.WinnowMinOverlap) =>
        (da, db) -> (n.toLong,
          math.rint(n.toDouble / math.min(sels(da).size, sels(db).size) * 1e4) / 1e4)
    }.toMap
    val got = Dedup.dedupWinnow(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(got == expected)
    // whole-document near-dups (verified jaccard >= 0.8) must all surface
    // as span-overlap pairs: a j >= 0.8 copy shares long unedited runs
    val mh = Dedup.dedupMinhash(spark, dir).select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh.subsetOf(got.keySet))
  }

  test("ann_topk matches a driver-side exact computation") {
    val got = Similarity.annTopk(spark, dir, queryId = 0L, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val all = Tables.embeddings(spark, dir)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val q = all(0L)
    def cos(x: Array[Double], y: Array[Double]): Double = {
      var d = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
      while (i < x.length) { d += x(i) * y(i); nx += x(i) * x(i); ny += y(i) * y(i); i += 1 }
      d / (math.sqrt(nx) * math.sqrt(ny))
    }
    val expected = all.toSeq.filter(_._1 != 0L)
      .map { case (id, v) =>
        (id, BigDecimal(cos(v, q)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      .sortBy { case (id, c) => (-c, id) }.take(10)
    assert(got.toSeq === expected)
  }

  test("multi-probe LSH search finds planted near-neighbors at rank 1") {
    import spark.implicits._
    // 50 base vectors + a near-identical partner for the first 10
    val rnd = new scala.util.Random(7)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    val base = (0 until 50).map(i => (i.toLong, vec()))
    val partners = base.take(10).map { case (i, v) =>
      (100L + i, v.map(x => x + (rnd.nextGaussian() * 1e-4).toFloat))
    }
    val corpus = (base ++ partners).toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"embedding".as("query_emb"))
    val top1 = Similarity.annLshSearch(corpus, queries, 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val found = (0 until 10).count(i => top1.get(i.toLong).contains(100L + i))
    assert(found >= 9, s"only $found/10 planted neighbors found at rank 1")
  }

  test("bitext mining recovers planted translation pairs as a partial matching") {
    import spark.implicits._
    // 40 source vectors (even ids); targets (odd ids) = near-copies of the
    // first 15 sources (planted "translations") + 25 random distractors
    val rnd = new scala.util.Random(11)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    val sources = (0 until 40).map(i => (2L * i, vec()))
    val planted = sources.take(15).map { case (id, v) =>
      (id + 1, v.map(x => x + (rnd.nextGaussian() * 1e-4).toFloat))
    }
    val distractors = (0 until 25).map(i => (31L + 2 * i, vec()))
    val emb = (sources ++ planted ++ distractors).toDF("vec_id", "embedding")
    val mined = Similarity.bitextMine(emb, k = 4, bits = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // mutual-best makes the result a partial matching: no src or tgt twice
    assert(mined.map(_._1).distinct.size === mined.size, "src repeated")
    assert(mined.map(_._2).distinct.size === mined.size, "tgt repeated")
    // a planted pair loses only when its side has <4 LSH candidates (the
    // exactly-k guard) — near-identical vectors share a bucket, margin ~2
    val hits = mined.count { case (s, t) => t === s + 1 }
    assert(hits >= 12, s"only $hits/15 planted translation pairs mined")
    // margins of mined pairs exceed 1 when cosine beats the neighborhood
    // mean — true for every planted pair by construction
    val margins = Similarity.bitextMine(emb, k = 4, bits = 4)
      .filter(col("tgt_id") === col("src_id") + 1)
      .select("margin").as[Double].collect()
    assert(margins.forall(_ > 1.0), "planted pair margin must exceed 1")
    // rounded-value ranking with id tie-breaks makes the mined set
    // independent of physical layout — the reproducibility contract
    val base = Similarity.bitextMine(emb, k = 4, bits = 4)
      .collect().map(_.toString).sorted.toSeq
    Seq(emb.repartition(1), emb.repartition(17, col("vec_id"))).foreach { variant =>
      val got = Similarity.bitextMine(variant, k = 4, bits = 4)
        .collect().map(_.toString).sorted.toSeq
      assert(got === base, "mined pairs moved across partitionings")
    }
  }

  test("corpus-build funnel: monotone, starts at the corpus, stages agree with their sources") {
    val rows = Curation.qCorpusBuild(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows.keySet === Set(
      "0_raw", "1_exact_dedup", "2_near_dedup", "3_decontaminated", "4_quality"))
    // each stage only removes documents (and their characters)
    val order = Seq("0_raw", "1_exact_dedup", "2_near_dedup", "3_decontaminated", "4_quality")
    order.sliding(2).foreach { case Seq(a, b) =>
      assert(rows(b)._1 <= rows(a)._1, s"$b grew vs $a")
      assert(rows(b)._2 <= rows(a)._2, s"$b chars grew vs $a")
    }
    // stage 0 is exactly the held-out-benchmark corpus
    val corpus = Tables.documents(spark, dir).filter(col("doc_id") % 100 =!= 0)
    assert(rows("0_raw")._1 === corpus.count())
    assert(rows("0_raw")._2 ===
      corpus.agg(sum(col("n_chars"))).first().getLong(0))
    // the near-dedup stage drops exactly the corpus's non-canonical
    // cluster members that survived exact dedup (cross-check vs the
    // standalone survivors query, which uses the same cluster labels)
    val survivorIds = Cluster.dedupSurvivors(spark, dir)
      .filter(col("doc_id") % 100 =!= 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(rows("2_near_dedup")._1 <= survivorIds.size)
  }

  test("lsh search results are a subset of brute-force ranking, exactly scored") {
    val got = Similarity.annLshSearchQuery(spark, dir).collect()
    assert(got.nonEmpty)
    // every returned cosine must equal the exact cosine (re-rank is exact)
    val e = Tables.embeddings(spark, dir)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(x: Array[Double], y: Array[Double]): Double = {
      var d = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
      while (i < x.length) { d += x(i) * y(i); nx += x(i) * x(i); ny += y(i) * y(i); i += 1 }
      d / (math.sqrt(nx) * math.sqrt(ny))
    }
    got.foreach { r =>
      val expect = BigDecimal(cos(e(r.getLong(0)), e(r.getLong(1))))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(2) === expect)
    }
  }

  test("lsh buckets partition the corpus") {
    val buckets = Similarity.annLshBuckets(spark, dir)
    val total = buckets.agg(sum(col("bucket_size"))).first().getLong(0)
    assert(total === Tables.embeddings(spark, dir).count())
  }

  test("bucket-partitioned corpus: multi-probe search prunes the scan to probe directories") {
    val path = tempDir("lsh_corpus").toString
    val e = Tables.embeddings(spark, dir)
    Similarity.writeBucketedCorpus(e, path)
    val layout = new java.io.File(path).listFiles().map(_.getName).filter(_.startsWith("bucket="))
    assert(layout.length > 26, "corpus must span many bucket directories")

    val queries = e.filter(col("vec_id") < 2)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_emb"))
    val keys = Similarity.lshProbes(queries).select("bucket").distinct()
      .collect().map(_.getLong(0))
    assert(keys.length <= 2 * (Similarity.LshBits + 1), "probe set is 13 buckets per query")

    val got = Similarity.annLshSearchPartitioned(spark, path, queries, 5)
    // partition pruning: the probe keys reach the scan as PartitionFilters
    // (pruned at file listing), not as a post-scan Filter
    val plan = got.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    val pf = plan.linesIterator.filter(_.contains("PartitionFilters")).mkString
    assert(pf.contains("bucket"), s"probe keys must prune partitions:\n$plan")
    // >10 keys makes Catalyst emit INSET instead of IN — accept either
    assert(pf.contains(" IN") || pf.contains("INSET"), s"expected static IN/INSET partition filter: $pf")
    // same answers as the unpartitioned search
    val want = Similarity.annLshSearch(e, queries, 5).collect().map(_.toString).toSeq
    assert(got.collect().map(_.toString).toSeq === want)
  }

  test("streaming index append keeps the partitioned ANN search fresh") {
    val path = tempDir("lsh_live").toString + "/corpus"
    val e = Tables.embeddings(spark, dir)
    // bulk build over everything EXCEPT a held-out arrival set
    val arrivals = e.filter(col("vec_id") >= 450)
    Similarity.writeBucketedCorpus(e.filter(col("vec_id") < 450), path)
    val before = Similarity.annLshSearchPartitioned(
      spark, path,
      e.filter(col("vec_id") < 2)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_emb")), 50)
      .collect().map(_.getLong(1)).toSet
    assert(before.forall(_ < 450), "held-out vectors must be invisible pre-append")

    // stream the arrivals in
    val stageDir = tempDir("emb_arrivals")
    arrivals.write.parquet(stageDir.resolve("b1").toString)
    Similarity.runIndexAppendStream(spark, s"$stageDir/*", path)

    // the full layout now equals a from-scratch bulk build, row for row
    val live = spark.read.parquet(path)
    assert(live.count() === e.count())
    val queries = e.filter(col("vec_id") < 2)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_emb"))
    val got = Similarity.annLshSearchPartitioned(spark, path, queries, 5)
      .collect().map(_.toString).toSeq
    val want = Similarity.annLshSearch(e, queries, 5).collect().map(_.toString).toSeq
    assert(got === want, "post-append search must equal the full-corpus search")
  }

  test("ngram jaccard: bucketed top-100 equals brute-force all-pairs top-100") {
    val docs = Tables.documents(spark, dir)
    val masked = docs.select(col("lang"), col("doc_id"),
        graft.functions.SketchFns.charBitmap(col("text")).as("mask"))
      .select(col("lang"), col("doc_id"),
        element_at(col("mask"), 1).as("m0"), element_at(col("mask"), 2).as("m1"))
    val a = masked.select(col("lang"), col("doc_id").as("doc_a"),
      col("m0").as("a0"), col("m1").as("a1"))
    val b = masked.select(col("lang").as("lang_b"), col("doc_id").as("doc_b"),
      col("m0").as("b0"), col("m1").as("b1"))
    val inter = (bit_count(col("a0").bitwiseAND(col("b0"))) +
      bit_count(col("a1").bitwiseAND(col("b1")))).cast("double")
    val union = (bit_count(col("a0").bitwiseOR(col("b0"))) +
      bit_count(col("a1").bitwiseOR(col("b1")))).cast("double")
    val brute = a.join(b, col("lang") === col("lang_b") && col("doc_a") < col("doc_b"))
      .select(col("lang"), col("doc_a"), col("doc_b"), round(inter / union, 4).as("jaccard"))
      .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b")).limit(100)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val got = Dedup.dedupNgramJaccard(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got === brute)
  }

  test("ngram candidate pairs are bounded by distinct bitmaps, not corpus size") {
    val docs = Tables.documents(spark, dir).select("lang", "doc_id", "text")
    val doubled = docs.unionByName(
      docs.withColumn("doc_id", col("doc_id") + 1000000L))
    val p1 = Dedup.ngramGroupPairs(docs).count()
    val p2 = Dedup.ngramGroupPairs(doubled).count()
    // duplicate content folds into existing bitmap groups: cross pairs are
    // unchanged; growth is at most one self pair per previously-singleton
    // bitmap — while brute-force all-pairs would have quadrupled
    val nDistinct = docs.select(
        graft.functions.SketchFns.charBitmap(col("text")).as("m"), col("lang"))
      .distinct().count()
    assert(p2 - p1 <= nDistinct, s"pair growth ${p2 - p1} exceeds distinct-bitmap bound $nDistinct")
    val n = docs.count()
    assert(p2 < n * (2 * n - 1), "candidate pairs must stay far below all-pairs")
  }

  test("embedding LSH dedup: planted near-identical pairs top the ranking, candidates bucket-bounded") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    val base = (0 until 50).map(i => (i.toLong, vec()))
    val partners = base.take(10).map { case (i, v) =>
      (100L + i, v.map(x => x + (rnd.nextGaussian() * 1e-4).toFloat))
    }
    val corpus = (base ++ partners).toDF("vec_id", "embedding")
    val top = Dedup.dedupEmbeddingLshDf(corpus, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0 until 10).map(i => (i.toLong, 100L + i)).toSet
    assert(planted.intersect(top).size >= 9,
      s"only ${planted.intersect(top).size}/10 planted near-dup pairs in top-10")
    // pairwise work is bounded by bucket occupancy: random 64-dim gaussians
    // rarely collide within hamming-1 of a 12-bit signature, so candidates
    // must be far below the 60*59/2 = 1770 all-pairs count
    val cands = Dedup.dedupEmbeddingLshCandidates(corpus).count()
    assert(cands < 1770 / 4, s"candidate count $cands not bucket-bounded")
    assert(cands >= 10, "planted pairs must all be candidates")
  }

  test("IVF search finds planted near-neighbors and scores exactly") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    val base = (0 until 50).map(i => (i.toLong, vec()))
    val partners = base.take(10).map { case (i, v) =>
      (100L + i, v.map(x => x + (rnd.nextGaussian() * 1e-4).toFloat))
    }
    val corpus = (base ++ partners).toDF("vec_id", "embedding")
    val centroids = Ivf.trainCentroids(corpus, k = 8, sampleN = 60)
    val queries = corpus.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"embedding".as("query_emb"))
    // a vector and its near-identical partner quantize to the same list,
    // so nProbe=1 already suffices for planted pairs
    val top1 = Ivf.search(corpus, queries, centroids, k = 1, nProbe = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val found = (0 until 10).count(i => top1.get(i.toLong).contains(100L + i))
    assert(found >= 9, s"only $found/10 planted neighbors found at rank 1")
  }

  test("IVF inverted lists partition the corpus; assignment is deterministic") {
    val counts = Ivf.annIvfLists(spark, dir).collect()
    assert(counts.map(_.getLong(1)).sum === Tables.embeddings(spark, dir).count())
    val again = Ivf.annIvfLists(spark, dir).collect()
    assert(counts.map(_.toString).toSeq === again.map(_.toString).toSeq)
    // IVF candidates per query are bounded by the probed lists, not the corpus
    val probed = counts.sortBy(-_.getLong(1)).take(Ivf.NProbe).map(_.getLong(1)).sum
    assert(probed < Tables.embeddings(spark, dir).count())
  }

  test("delete impact: entangled sequences, split components, re-elected canonicals") {
    import spark.implicits._
    // token counts chosen so deletions cross pack boundaries: doc 0
    // spans seqs {0,1}, doc 1 sits in seq 1, doc 2 spans {1,2},
    // docs 3-4 sit in seq 2 (seqLen 512, cost = n_tok + 1)
    val toks = Seq(600, 10, 600, 5, 5)
    val docs = toks.zipWithIndex.map { case (n, i) =>
      (i.toLong, Seq.fill(n)("w").mkString(" "), 100L + i)
    }.toDF("doc_id", "text", "n_chars")
    // dup graph: component {0,2,4} bridged by 2; component {1,3}
    val pairs = Seq((0L, 2L), (2L, 4L), (1L, 3L)).toDF("doc_a", "doc_b")
    // delete the bridge (2) and a canonical (1)
    val del = Seq(1L, 2L).toDF("doc_id")
    val got = Curation.deleteImpactDf(docs, Packing.packSequences(docs),
        del, pairs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got(("documents", "docs_deleted")) === 2L)
    assert(got(("documents", "chars_deleted")) === 203L)
    // all three pairs touch a deleted endpoint; the bridge deletion
    // dissolves {0,4} (no surviving pair connects them) and the {1,3}
    // canonical deletion forces a re-election for survivor 3
    assert(got(("dup_graph", "pairs_removed")) === 3L)
    assert(got(("dup_graph", "components_before")) === 2L)
    assert(got(("dup_graph", "components_after")) === 0L)
    assert(got(("dup_graph", "canonicals_reelected")) === 1L)
    // doc 1 invalidates seq 1, doc 2 invalidates seqs {1,2} -> {1,2}
    assert(got(("pack_manifest", "seqs_invalidated")) === 2L)
    assert(got(("pack_manifest", "tokens_dropped")) === 610L)
  }

  test("delete impact matches an independent reimplementation on random corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260815L)
    for (trial <- 1 to 3) {
      val n = 30
      val toks = Array.fill(n)(rnd.nextInt(700)) // some docs cross the 512 boundary
      val docs = (0 until n).map(i =>
        (i.toLong, Seq.fill(toks(i))("w").mkString(" "), 50L + i))
        .toDF("doc_id", "text", "n_chars")
      val pairs = Seq.fill(12)((rnd.nextInt(n), rnd.nextInt(n)))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b).toLong, math.max(a, b).toLong) }
        .distinct
      val delSet = (0 until n).filter(_ => rnd.nextDouble() < 0.25).map(_.toLong).toSet
      // reference: prefix-sum pack manifest in doc_id order (cost = n_tok+1)
      var off = 0L
      val spans = (0 until n).map { i =>
        val t = toks(i).toLong
        val seqs = if (t == 0) Seq.empty[Long]
          else (off / 512L) to ((off + t - 1) / 512L)
        off += t + 1
        i.toLong -> (t, seqs)
      }.toMap
      // reference: union-find over all pairs, and over surviving pairs
      def components(es: Seq[(Long, Long)]): Map[Long, Long] = {
        val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
        val parent = scala.collection.mutable.Map(nodes.map(v => v -> v): _*)
        def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
        es.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        nodes.map(v => v -> nodes.filter(u => find(u) == find(v)).min).toMap
      }
      val before = components(pairs)
      val after = components(pairs.filter(p => !delSet(p._1) && !delSet(p._2)))
      val expected = Map(
        ("documents", "docs_deleted") -> delSet.size.toLong,
        ("documents", "chars_deleted") -> delSet.toSeq.map(50L + _).sum,
        ("dup_graph", "pairs_removed") ->
          pairs.count(p => delSet(p._1) || delSet(p._2)).toLong,
        ("dup_graph", "components_before") -> before.values.toSeq.distinct.size.toLong,
        ("dup_graph", "components_after") -> after.values.toSeq.distinct.size.toLong,
        ("dup_graph", "canonicals_reelected") -> before.groupBy(_._2)
          .count { case (min, members) =>
            delSet(min) && members.keys.exists(!delSet(_)) }.toLong,
        ("pack_manifest", "tokens_dropped") -> delSet.toSeq.map(spans(_)._1).sum,
        ("pack_manifest", "seqs_invalidated") ->
          delSet.toSeq.flatMap(spans(_)._2).distinct.size.toLong)
      val got = Curation.deleteImpactDf(docs, Packing.packSequences(docs),
          delSet.toSeq.toDF("doc_id"), pairs.toDF("doc_a", "doc_b")).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(got === expected, s"trial=$trial del=$delSet pairs=$pairs")
    }
  }

  test("IVF drift report detects a new mode the frozen quantizer has no cell for") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    def around(dir0: Int, sign: Float): Array[Float] = {
      val v = Array.fill(64)((rnd.nextGaussian() * 0.05).toFloat)
      v(dir0) += sign; v
    }
    // base cohort (ids < 60): two modes the quantizer trains on;
    // delta cohort (ids >= 100): a NEW mode opposite the first
    val base = (0 until 60).map(i => (i.toLong, around(i % 2, 1f)))
    val delta = (0 until 30).map(i => (100L + i, around(0, -1f)))
    val emb = (base ++ delta).toDF("vec_id", "embedding")
    val got = Ivf.ivfDriftDf(emb, cut = 60L, k = 4, sampleN = 60).collect()
    assert(got.length === 4, "one row per inverted list, empties included")
    assert(got.map(_.getLong(1)).sum === 60L)
    assert(got.map(_.getLong(2)).sum === 30L)
    // each cohort's shares partition it (up to 6-dp rounding)
    assert(math.abs(got.map(_.getDouble(3)).sum - 1.0) < 1e-4)
    assert(math.abs(got.map(_.getDouble(4)).sum - 1.0) < 1e-4)
    assert(math.abs(got.map(_.getDouble(5)).sum) < 1e-4, "shifts sum to zero")
    // the new mode quantizes FAR worse than the trained-on data: its
    // nearest trained centroid is ~orthogonal-to-opposite, so the
    // occupancy-weighted mean distortion gap is large and unambiguous
    def wmean(nIdx: Int, dIdx: Int) = {
      val rows = got.filter(r => r.getLong(nIdx) > 0)
      rows.map(r => r.getLong(nIdx) * r.getDouble(dIdx)).sum /
        rows.map(_.getLong(nIdx)).sum
    }
    val (mb, md) = (wmean(1, 6), wmean(2, 7))
    assert(md > mb + 0.5, s"drifted cohort must quantize worse: base=$mb delta=$md")
    // the arrivals pile onto lists in a different proportion than the
    // trained distribution: some list absorbs the mode
    assert(got.map(_.getDouble(5)).max > 0.2, "a list must absorb the new mode")
  }

  test("IVF drift on the shared corpus: grid-complete, cohorts partition the table") {
    val emb = Tables.embeddings(spark, dir)
    val got = Ivf.annIvfDrift(spark, dir).collect()
    assert(got.length === Ivf.K)
    assert(got.map(r => r.getLong(1) + r.getLong(2)).sum === emb.count())
    // iid synthetic arrivals: the frozen quantizer is NOT stale here, so
    // the cohort-weighted mean distortions sit in one band — the control
    // that says a real shift (previous test) is signal, not mechanism.
    // (Per-list bands would be noise at this SF: single-vector lists.)
    def wmean(nIdx: Int, dIdx: Int) = {
      val rows = got.filter(r => r.getLong(nIdx) > 0 && !r.isNullAt(dIdx))
      rows.map(r => r.getLong(nIdx) * r.getDouble(dIdx)).sum /
        rows.map(_.getLong(nIdx)).sum
    }
    val (mb, md) = (wmean(1, 6), wmean(2, 7))
    assert(math.abs(mb - md) < 0.2, s"no-drift control bands diverge: base=$mb delta=$md")
  }

  test("ivf-partitioned corpus: probe search prunes the scan to the probed list directories") {
    val path = tempDir("ivf_corpus").toString
    val e = Tables.embeddings(spark, dir)
    val centroids = Ivf.trainCentroids(e)
    Ivf.writeIvfPartitioned(e, centroids, path)
    val layout = new java.io.File(graft.ops.Publish.liveDir(spark, path)).listFiles()
      .map(_.getName).filter(_.startsWith("list_id="))
    assert(layout.length > 1, "corpus must span multiple inverted-list directories")

    val queries = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_emb"))
    val got = Ivf.ivfSearchPartitioned(spark, path, queries, centroids, k = 5)
    // the probed list ids reach the scan as PartitionFilters (pruned at
    // file listing), not as a post-scan Filter, so the read touches at
    // most nProbe directories per query
    val plan = got.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    val pf = plan.linesIterator.filter(_.contains("PartitionFilters")).mkString
    assert(pf.contains("list_id"), s"probe keys must prune partitions:\n$plan")
    assert(pf.contains(" IN") || pf.contains("INSET"), s"expected static IN/INSET partition filter: $pf")
    // same answers as the in-memory probe search over the same centroids
    val want = Ivf.search(e, queries, centroids, k = 5).collect().map(_.toString).toSeq
    assert(got.collect().map(_.toString).toSeq === want)
  }

  test("served IVFPQ layout: same rows as the unserved search, scan pruned to probed lists") {
    val got = Pq.annIvfPqSearchServed(spark, dir)
    val plan = got.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    val pf = plan.linesIterator.filter(_.contains("PartitionFilters")).mkString
    assert(pf.contains("list_id"), s"probe keys must prune partitions:\n$plan")
    assert(pf.contains(" IN") || pf.contains("INSET"), s"expected static IN/INSET partition filter: $pf")
    val want = Pq.annIvfPqSearch(spark, dir).collect().map(_.toString).toSeq
    assert(want.nonEmpty)
    assert(got.collect().map(_.toString).toSeq === want)
  }

  test("PQ codes: M byte-range ints per vector, deterministic encode") {
    val e = Tables.embeddings(spark, dir)
    val books = Pq.trainCodebooks(e)
    assert(books.length === Pq.M && books.forall(_.length === Pq.Ksub))
    val codes = Pq.encodeCorpus(e, books).collect()
    assert(codes.length === e.count())
    codes.foreach { r =>
      val cs = r.getSeq[Int](1)
      assert(cs.length === Pq.M)
      assert(cs.forall(c => c >= 0 && c < Pq.Ksub))
    }
    val again = Pq.encodeCorpus(e, Pq.trainCodebooks(e)).collect()
    assert(codes.map(_.toString).sorted.toSeq === again.map(_.toString).sorted.toSeq)
  }

  test("PQ ADC search finds planted near-identical partners at rank 1") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    val base = (0 until 50).map(i => (i.toLong, vec()))
    val partners = base.take(10).map { case (i, v) =>
      (100L + i, v.map(x => x + (rnd.nextGaussian() * 1e-4).toFloat))
    }
    val corpus = (base ++ partners).toDF("vec_id", "embedding")
    val books = Pq.trainCodebooks(corpus, ksub = 32, sampleN = 60)
    val codes = Pq.encodeCorpus(corpus, books)
    val queries = corpus.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"embedding".as("query_emb"))
    // a vector and its near-identical partner quantize to the same codes,
    // so the partner's ADC score is the query's own reconstruction score
    val top1 = Pq.search(codes, queries, books, k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val found = (0 until 10).count(i => top1.get(i.toLong).contains(100L + i))
    assert(found >= 8, s"only $found/10 planted neighbors found at ADC rank 1")
  }

  test("IVFADC search equals an in-memory ADC pass over the probed lists") {
    val emb = Tables.embeddings(spark, dir)
    val cents = Ivf.trainCentroids(emb)
    val books = Pq.trainCodebooks(emb)
    val corpus = Ivf.assignLists(emb, cents)
      .select(col("vec_id"), col("list_id"),
        graft.functions.PqEncode(
          transform(col("embedding"),
            x => (x / graft.functions.VectorFns.l2norm(col("embedding"))).cast("float")),
          books).as("codes"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2).toArray))
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding"))
      .collect().map { r =>
        val v = r.getSeq[Float](1).toArray
        val n = math.sqrt(v.map(x => x.toDouble * x).sum)
        r.getLong(0) -> v.map(x => (x / n).toFloat)
      }
    val probeEval = new graft.functions.NearestCentroids.Evaluator(
      cents.map(_.toArray).toArray, Ivf.NProbe)
    val m = Pq.M
    val subDim = queries(0)._2.length / m
    val expected = queries.flatMap { case (qid, q) =>
      val pl = probeEval.eval(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(q))
      val lists = (0 until Ivf.NProbe).map(pl.getInt).toSet
      val table = Array.tabulate(m, Pq.Ksub) { (s, c) =>
        (0 until subDim).map(j => q(s * subDim + j).toDouble * books(s)(c)(j)).sum
      }
      corpus
        .filter { case (vid, list, _) => vid != qid && lists(list) }
        .map { case (vid, _, codes) =>
          val score = (0 until m).map(s => table(s)(codes(s))).sum
          (vid, BigDecimal(score).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
        .sortBy { case (vid, sc) => (-sc, vid) }
        .take(5)
        .zipWithIndex
        .map { case ((vid, sc), i) => (qid, vid, sc, i + 1) }
    }.toSet
    val got = Pq.annIvfPqSearch(spark, dir)
      .select(col("query_id"), col("vec_id"), col("adc_score"), col("rn"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("PQ occupancy query: every subspace uses multiple codes, none overflow") {
    val occ = Pq.annPqOccupancy(spark, dir).collect()
    assert(occ.length === Pq.M)
    occ.foreach { r =>
      assert(r.getLong(1) > 1, s"collapsed subspace: $r")
      assert(r.getLong(1) <= Pq.Ksub)
      assert(r.getLong(2) === Tables.embeddings(spark, dir).count())
    }
  }

  test("int8 quantization keeps cosine within 1% and preserves planted top-1") {
    import spark.implicits._
    import graft.functions.{DequantizeInt8, QuantizeInt8, VectorFns}
    // round-trip cosine error on the real embeddings
    val e = Tables.embeddings(spark, dir)
      .withColumn("qz", QuantizeInt8(col("embedding")))
      .withColumn("demb", DequantizeInt8(col("qz.scale"), col("qz.codes")))
      .select(VectorFns.cosine(col("embedding"), col("demb")).as("c"))
    val minCos = e.agg(min(col("c"))).first().getDouble(0)
    assert(minCos > 0.99, s"quantization cosine floor too low: $minCos")
    // quantized ranking stays faithful: its top-1 is among the exact top-3
    // (ties within quantization error may swap adjacent ranks, no more)
    val got = Similarity.annTopkInt8(spark, dir, queryId = 0L, k = 1).collect()
    val exact3 = Similarity.annTopk(spark, dir, queryId = 0L, k = 3)
      .collect().map(_.getLong(0)).toSet
    assert(exact3.contains(got.head.getLong(0)))
  }

  test("hash split is total, stable, and roughly 80/10/10; hash sampling is monotone") {
    val docs = Tables.documents(spark, dir)
    val n = docs.count()
    val counts = Curation.qSplitAssign(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum === n)
    assert(counts("train") > n * 7 / 10 && counts("train") < n * 9 / 10)
    // stability: same assignment on re-evaluation
    assert(Curation.qSplitAssign(spark, dir).collect().toSeq ===
      Curation.qSplitAssign(spark, dir).collect().toSeq)
    // monotone sampling: smaller rate is a subset of larger rate
    val s32 = Curation.sampleByHash(docs, col("doc_id"), 32)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val s64 = Curation.sampleByHash(docs, col("doc_id"), 64)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s32.subsetOf(s64))
    assert(Curation.sampleByHash(docs, col("doc_id"), 256).count() === n)
  }

  test("curation output is deduplicated and language-consistent") {
    val curated = Curation.qCurate(spark, dir)
    val ids = curated.select("doc_id").collect().map(_.getLong(0))
    assert(ids.nonEmpty && ids.length < 500)
    // no two curated docs share a text (exact dedup held)
    val docs = Tables.documents(spark, dir)
    val texts = docs.filter(col("doc_id").isin(ids.map(Long.box): _*))
      .select("text").collect().map(_.getString(0))
    assert(texts.distinct.length === texts.length)
  }

  test("langId is deterministic and scores in [0,1]") {
    val r = Text.textLangId(spark, dir).collect()
    assert(r.length === 500)
    assert(r.forall(row => row.getDouble(2) >= 0.0 && row.getDouble(2) <= 1.0))
    val again = Text.textLangId(spark, dir).collect()
    assert(r.map(_.toString).toSeq === again.map(_.toString).toSeq)
  }

  test("native LangId matches the composed HOF formulation on real documents") {
    val composed = TextFns.langId(col("text"))
    val native = graft.functions.LangId(col("text"))
    val diff = Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        composed.getField("lang").as("cl"), round(composed.getField("score"), 9).as("cs"),
        native.getField("lang").as("nl"), round(native.getField("score"), 9).as("ns"))
      .filter(col("cl") =!= col("nl") || col("cs") =!= col("ns"))
    assert(diff.count() === 0)
  }

  test("native WordShingles matches the composed HOF formulation on real documents") {
    val diff = Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        array_sort(TextFns.wordShingles(col("text"), 2)).as("c"),
        array_sort(graft.functions.WordShingles(col("text"), 2)).as("n"))
      .filter(not(col("c") === col("n")))
    assert(diff.count() === 0)
    // edge cases: empty, single-token, duplicate shingles
    import spark.implicits._
    val edge = Seq("", "one", "a b a b a b", "  padded   runs  ").toDF("text")
      .select(
        array_sort(TextFns.wordShingles(col("text"), 2)).as("c"),
        array_sort(graft.functions.WordShingles(col("text"), 2)).as("n"))
    edge.collect().foreach(r => assert(r.getSeq[String](0) === r.getSeq[String](1)))
  }

  test("semantic dedup drop counts match an in-memory within-cluster pairwise pass") {
    val emb = Tables.embeddings(spark, dir)
    val cents = Ivf.trainCentroids(emb)
    val tau = 0.92
    val assigned = Ivf.assignLists(emb, cents)
      .select(col("list_id"), col("vec_id"), col("embedding"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Float](2).toArray))
    def cos(x: Array[Float], y: Array[Float]): Double = {
      var d = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
      while (i < x.length) { d += x(i) * y(i); nx += x(i) * x(i); ny += y(i) * y(i); i += 1 }
      // same association as the query (dot / (l2norm * l2norm)) so a
      // boundary cosine can't flip between the two formulations
      d / (math.sqrt(nx) * math.sqrt(ny))
    }
    val expected = assigned.groupBy(_._1).map { case (list, vs) =>
      val sorted = vs.sortBy(_._2)
      val dropped = sorted.indices.flatMap { j =>
        val (_, idB, embB) = sorted(j)
        if (sorted.indices.take(j).exists(i => cos(sorted(i)._3, embB) >= tau)) Some(idB)
        else None
      }.toSet
      list -> ((vs.length.toLong, dropped.size.toLong))
    }
    val got = Dedup.dedupSemantic(spark, dir).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === expected)
    assert(got.values.map(_._1).sum === assigned.length.toLong)
  }

  test("native RepetitionStats matches the exploded-bigram formulation on real documents") {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), TextFns.tokens(col("text")).as("w"))
    val perDoc = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(graft.functions.WordShingles(col("text"), 2, distinct = false)).as("bg"))
      .groupBy(col("doc_id"), col("bg"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("c")).as("top_c"), sum(col("c")).as("n_bg"))
    val composed = docs.join(perDoc, "doc_id")
      .select(col("doc_id"), size(col("w")).as("n_tokens"),
        size(array_distinct(col("w"))).as("n_distinct"),
        col("top_c"), col("n_bg"))
    val native = Tables.documents(spark, dir)
      .select(col("doc_id"), graft.functions.RepetitionStats(col("text")).as("r"))
      .select(col("doc_id"), col("r.n_tokens"), col("r.n_distinct"),
        col("r.top_bigram"), col("r.n_bigrams"))
    assert(native.orderBy("doc_id").collect().map(_.toString).toSeq ===
      composed.orderBy("doc_id").collect().map(_.toString).toSeq)
    // edge cases: empty, whitespace-only, single token, all-same bigrams
    import spark.implicits._
    val edge = Seq("", "   ", "one", "a a a a a", "x y x y x y")
      .toDF("text").select(graft.functions.RepetitionStats(col("text")).as("r"))
      .select("r.n_tokens", "r.n_distinct", "r.top_bigram", "r.n_bigrams")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    assert(edge === Seq((1, 1, 1L, 1L), (1, 1, 1L, 1L), (1, 1, 1L, 1L),
      (5, 1, 4L, 4L), (6, 2, 3L, 5L)))
  }

  test("native CharNgrams matches the composed substr formulation on real documents") {
    def composed(n: Int) = {
      val len = length(col("text"))
      when(len < n, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), len - (n - 1)),
          i => col("text").substr(i, lit(n))))
    }
    val diff = Tables.documents(spark, dir)
      .select(
        composed(3).as("c"),
        graft.functions.CharNgrams(col("text"), 3).as("n"))
      .filter(not(col("c") === col("n")))
    assert(diff.count() === 0)
    // edge cases incl. multi-byte UTF-8 (substr is character-based)
    import spark.implicits._
    val edge = Seq("", "ab", "abc", "abcd", "héllo wörld", "日本語のテキスト")
      .toDF("text")
      .select(composed(3).as("c"), graft.functions.CharNgrams(col("text"), 3).as("n"))
    edge.collect().foreach(r => assert(r.getSeq[String](0) === r.getSeq[String](1)))
  }

  test("native AnchoredSpans matches the composed explode+filter formulation on real documents") {
    val docs = Tables.documents(spark, dir).filter(col("n_chars") >= 48)
    val composed = docs
      .select(col("doc_id"),
        explode(sequence(lit(1), (col("n_chars") - 47).cast("int"))).as("p"),
        col("text"))
      .filter(pmod(
        (lit(961L) * ascii(substring(col("text"), col("p"), lit(1)))
          + lit(31L) * ascii(substring(col("text"), col("p") + 1, lit(1)))
          + ascii(substring(col("text"), col("p") + 2, lit(1)))) * lit(2654435761L),
        lit(4294967296L)) < lit(268435456L))
      .select(col("doc_id"), substring(col("text"), col("p"), lit(48)).as("span"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val native = docs
      .select(col("doc_id"),
        explode(graft.functions.AnchoredSpans(col("text"), 48, 16)).as("span"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(native.nonEmpty)
    assert(native === composed)
    // multi-byte text: codepoint positions and anchor values, not bytes
    import spark.implicits._
    val uni = Seq((1L, "é" * 60), (2L, ("«" * 50) + "abc"))
      .toDF("doc_id", "text")
    val got = uni.select(col("doc_id"),
        explode(graft.functions.AnchoredSpans(col("text"), 48, 16)).as("span"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    // trigram hash of (é,é,é) lands above the 1/16 threshold -> no
    // anchors; («,«,«) (U+00AB, 2-byte UTF-8) lands below -> anchors at
    // every guillemet position with 48 codepoints left
    assert(!got.exists(_._1 == 1L))
    val doc2 = got.filter(_._1 == 2L)
    assert(doc2.length === 6, "53 codepoints, window 48: starts 1..6 all anchored")
    assert(doc2.forall(_._2.length === 48))
  }

  test("span dedup finds planted passages at MISALIGNED offsets and nothing else") {
    import spark.implicits._
    val passage = ("x" * 10) + "THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG AGAIN AND AGAIN AND AGAIN." + ("y" * 10)
    // docs 1 and 2 share a 91-char passage at offsets 4 and 12 — offsets
    // differing mod 16, which a fixed-stride grid would NEVER collide on;
    // content anchoring (the passage's own spaces) must. 3 and 4 are
    // unique prose of similar length.
    val docs = Seq(
      (1L, "AAAA" + passage),
      (2L, ("B" * 12) + passage),
      (3L, "The weather in the mountains turned suddenly cold and the hikers made camp early that night near the river bend."),
      (4L, "Quarterly revenue exceeded expectations although operating margins narrowed due to one-time restructuring charges."))
      .toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")))
    val hits = Dedup.dedupSpansDf(docs).collect()
    assert(hits.nonEmpty, "shared passage must collide on its anchored windows")
    // every reported span involves exactly the two planted docs
    hits.foreach { r =>
      assert(r.getAs[Long]("n_docs") === 2L)
      assert(r.getAs[Long]("first_doc") === 1L)
    }
    val unique = Dedup.dedupSpansDf(docs.filter(col("doc_id") >= 3))
    assert(unique.count() === 0)
  }

  test("suffix-adjacency dedup ranks the planted doc pair first with the capped LCP") {
    import spark.implicits._
    val passage = "the quick brown fox jumps over the lazy dog while seventeen " +
      "auditors review quarterly filings beside the riverbank pavilion" // > 64 chars
    val docs = Seq(
      (1L, s"alpha preamble $passage trailing one"),
      (2L, s"completely different opening words here $passage"),
      (3L, "unrelated mountain weather turned suddenly cold overnight"),
      (4L, "quarterly revenue exceeded expectations despite narrowed margins"))
      .toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")))
    val out = SuffixDedup.suffixDups(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    assert(out.nonEmpty)
    // the planted pair wins with the full cap: the shared passage is
    // longer than LcpCap, so its word-aligned suffixes meet the cap
    val top = out.head
    assert((top._1, top._2) === (1L, 2L), s"top pair: $out")
    assert(top._3 === SuffixDedup.LcpCap)
    // several word-aligned starts inside the passage collide adjacently
    assert(top._4 > 3)
    // docs 3 and 4 share no span: any pair involving them stays far
    // below the planted score
    out.tail.foreach { p => assert(p._3 < 30, s"unexpected long span: $p") }
  }

  test("native WordSuffixWindows matches the composed explode+filter formulation") {
    val docs = Tables.documents(spark, dir).filter(col("n_chars") > 0)
    val composed = docs
      .select(col("doc_id"),
        explode(sequence(lit(0), (col("n_chars") - 1).cast("int"))).as("off"),
        col("text"))
      .filter(col("off") === 0 || expr("substring(text, off, 1)") === " ")
      .select(col("doc_id"), col("off"), expr("substring(text, off + 1, 64)").as("win"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted.toSeq
    val native = docs
      .select(col("doc_id"),
        explode(graft.functions.WordSuffixWindows(col("text"), 64)).as("sw"))
      .select(col("doc_id"), col("sw.off"), col("sw.win"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted.toSeq
    assert(native.nonEmpty)
    assert(native === composed)
    // multi-byte text: offsets are codepoints, windows slice by chars
    import spark.implicits._
    val uni = Seq((1L, "héllo wörld däta")).toDF("doc_id", "text")
    val got = uni.select(explode(graft.functions.WordSuffixWindows(col("text"), 5)).as("sw"))
      .select(col("sw.off"), col("sw.win"))
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(got === Seq((0, "héllo"), (6, "wörld"), (12, "däta")))
  }

  test("common_prefix_length counts codepoints and stops at multi-byte mismatches") {
    import graft.functions.CommonPrefixLength
    val cpl = CommonPrefixLength.compute _
    def f(a: String, b: String) = cpl(a.getBytes("UTF-8"), b.getBytes("UTF-8"))
    assert(f("abcdef", "abcxyz") === 3)
    assert(f("same", "same") === 4)
    assert(f("", "anything") === 0)
    assert(f("héllo wörld", "héllo wqrld") === 7, "multi-byte é counts as ONE codepoint")
    assert(f("日本語テキスト", "日本語テスト") === 4)
    // mismatch INSIDE a codepoint's bytes must not count the partial char
    assert(f("aé", "aè") === 1)
  }

  test("deflate ratio separates repetitive text from prose and is deterministic") {
    import spark.implicits._
    val rep = "spam spam spam spam " * 50
    val prose = "The committee reviewed seventeen distinct proposals before narrowing " +
      "the field to three finalists, each presenting materially different cost structures."
    val df = Seq((1L, rep), (2L, prose), (3L, ""), (4L, "x")).toDF("doc_id", "text")
    val got = df.select(col("doc_id"), graft.functions.DeflateRatio(col("text")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1) < 0.2, s"repetitive text must compress hard: ${got(1)}")
    assert(got(2) > 0.5, s"prose must compress far less: ${got(2)}")
    assert(got(1) < got(2) / 2)
    assert(got(3) === 1.0, "empty input is defined as 1.0")
    assert(got(4) > 1.0, "tiny input pays the deflate framing overhead")
    // determinism across evaluations (fresh plan, same bytes)
    val again = df.select(col("doc_id"), graft.functions.DeflateRatio(col("text")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(again === got)
    // driver query shape: every document scored, ratios positive
    val q = Text.textCompress(spark, dir).collect()
    assert(q.length === 500)
    assert(q.forall(_.getAs[Double]("compress_ratio") > 0))
    // the oracle-checked companion brackets the engine-local ratio: the
    // engine's deflate output stays inside the stored-mode ceiling for
    // EVERY document (this is what ties the rows-only zlib value to the
    // hash-green frame), and the entropy reference signal is in range
    val byId = Text.textCompressBound(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(byId.size === 500)
    q.foreach { r =>
      val b = byId(r.getLong(0))
      assert(r.getAs[Double]("compress_ratio") <= b.getAs[Double]("ceil_ratio") + 1e-9,
        s"doc ${r.getLong(0)}: deflate exceeded the stored-mode ceiling")
      assert(b.getAs[Double]("h0_ratio") >= 0.0)
    }
  }

  test("embedStats matches hand-computed per-dimension moments") {
    import spark.implicits._
    val df = Seq((1L, Array(1.0f, 10.0f)), (2L, Array(3.0f, 10.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.embedStats(df).collect()
      .map(r => r.getInt(0) -> r).toMap
    assert(got(0).getAs[Long]("n") === 2L)
    assert(got(0).getAs[Double]("mean") === 2.0)
    assert(math.abs(got(0).getAs[Double]("std") - math.sqrt(2.0)) < 1e-6)
    assert(got(0).getAs[Double]("vmin") === 1.0 && got(0).getAs[Double]("vmax") === 3.0)
    assert(got(1).getAs[Double]("mean") === 10.0 && got(1).getAs[Double]("std") === 0.0)
  }

  test("snapshot diff classifies added/removed/changed/unchanged") {
    import spark.implicits._
    val prev = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("doc_id", "text")
    val cur = Seq((2L, "beta"), (3L, "gamma EDITED"), (4L, "delta")).toDF("doc_id", "text")
    val got = Curation.snapshotDiff(prev, cur).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got === Map(
      "added" -> ((1L, 4L, 4L)),
      "removed" -> ((1L, 1L, 1L)),
      "changed" -> ((1L, 3L, 3L)),
      "unchanged" -> ((1L, 2L, 2L))))
  }

  test("mixture weights: shares normalize, alpha=1 is identity, alpha<1 upweights small domains") {
    import spark.implicits._
    val docs = Seq(
      (1L, "src_big", 900L), (2L, "src_big", 900L), (3L, "src_big", 900L),
      (4L, "src_small", 100L))
      .toDF("doc_id", "source", "n_chars")
    val w1 = Curation.mixtureWeights(docs, 1.0).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Double]("weight")).toMap
    assert(w1.values.forall(v => math.abs(v - 1.0) < 1e-6), s"alpha=1 must be identity: $w1")
    val w5 = Curation.mixtureWeights(docs, 0.5)
    val byName = w5.collect().map(r => r.getAs[String]("source") ->
      (r.getAs[Double]("target_share"), r.getAs[Double]("weight"))).toMap
    assert(math.abs(byName.values.map(_._1).sum - 1.0) < 1e-5, "target shares sum to 1")
    assert(byName("src_small")._2 > 1.0 && byName("src_big")._2 < 1.0,
      "temperature mix upweights the small domain")
    // weight * share recovers target share (definition holds after rounding)
    val chk = w5.collect().forall(r =>
      math.abs(r.getAs[Double]("share") * r.getAs[Double]("weight") -
        r.getAs[Double]("target_share")) < 1e-5)
    assert(chk)
  }

  test("PassJoin segment filter finds exactly the brute-force levenshtein<=k pairs") {
    val docs = Tables.documents(spark, dir)
    val titled = docs
      .select(col("doc_id"), substring(col("text"), 1, 40).as("t"))
      .filter(length(col("t")) === 40)
    val a = titled.select(col("doc_id").as("doc_a"), col("t").as("ta"))
    val b = titled.select(col("doc_id").as("doc_b"), col("t").as("tb"))
    val brute = a.join(b, col("doc_a") < col("doc_b"))
      .withColumn("dist", levenshtein(col("ta"), col("tb")).cast("long"))
      .filter(col("dist") <= 2)
      .select("doc_a", "doc_b", "dist")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = Dedup.fuzzyTitleJoin(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(brute.nonEmpty, "corpus should contain near-identical titles")
    assert(got === brute)
  }

  test("PassJoin pigeonhole theorem holds on randomized edits (insert/delete shifts included)") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val alphabet = "abcd" // tiny alphabet: adversarial segment collisions
    val len = 12
    (0 until 3).foreach { trial =>
      val base = Seq.fill(10)(Seq.fill(len)(alphabet(rng.nextInt(4))).mkString)
      // mutate while PRESERVING length: substitutions, and paired
      // insert+delete at different positions (the case that shifts
      // segments and defeats a naive aligned-segment join)
      val mutated = base.flatMap { s =>
        val sub = {
          val p = rng.nextInt(len)
          s.updated(p, alphabet(rng.nextInt(4)))
        }
        val insDel = {
          val ins = rng.nextInt(len)
          val withIns = s.substring(0, ins) + alphabet(rng.nextInt(4)) + s.substring(ins)
          withIns.substring(0, len) // insert then truncate = insert+delete
        }
        Seq(s, sub, insDel)
      }
      val docs = mutated.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val a = docs.select(col("doc_id").as("doc_a"), col("text").as("ta"))
      val b = docs.select(col("doc_id").as("doc_b"), col("text").as("tb"))
      val brute = a.join(b, col("doc_a") < col("doc_b"))
        .withColumn("dist", levenshtein(col("ta"), col("tb")).cast("long"))
        .filter(col("dist") <= 2)
        .select("doc_a", "doc_b", "dist")
        .as[(Long, Long, Long)].collect().toSet
      val got = Dedup.fuzzyTitleJoin(docs, k = 2, titleLen = len)
        .as[(Long, Long, Long)].collect().toSet
      assert(brute.nonEmpty, s"trial=$trial planted edits must collide")
      assert(got === brute, s"trial=$trial")
    }
  }

  test("mixture expansion lands expected copies per domain and replays identically") {
    val docs = Tables.documents(spark, dir)
    val out = Curation.mixtureExpand(docs)
    val w = Curation.mixtureWeights(docs, 0.5)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_docs"), r.getAs[Double]("weight"))).toMap
    val copies = out.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    w.foreach { case (src, (n, wt)) =>
      val expected = n * wt
      // binomial fluctuation around n*frac(w): allow 4 sigma + 1
      val frac = wt - math.floor(wt)
      val sigma = math.sqrt(n * frac * (1 - frac))
      assert(math.abs(copies(src) - expected) <= 4 * sigma + 1,
        s"$src: ${copies(src)} copies vs expected $expected")
    }
    // pure map: identical under repartitioning
    val again = Curation.mixtureExpand(docs.repartition(7))
      .collect().map(_.toString).sorted.toSeq
    assert(again === out.collect().map(_.toString).sorted.toSeq)
  }

  test("containment finds a planted excerpt that jaccard misses, with exact score") {
    import spark.implicits._
    val host = (1 to 120).map(i => s"tok$i").mkString(" ")
    val excerpt = (41 to 60).map(i => s"tok$i").mkString(" ") // verbatim slice
    val docs = Seq(
      (1L, host, host.length.toLong),
      (2L, excerpt, excerpt.length.toLong),
      (3L, (200 to 240).map(i => s"w$i").mkString(" "), 300L))
      .toDF("doc_id", "text", "n_chars")
    val out = Dedup.dedupContainmentDf(docs, threshold = 0.5, maxChars = 400)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // 20 tokens -> 18 distinct 3-shingles, every one present in the host
    assert(out.toSeq === Seq((2L, 1L, 1.0)))
    // while symmetric jaccard on the same pair is far below any dedup cut
    val j = graft.functions.TextFns.jaccard(
      graft.functions.TextFns.wordShingles(lit(host), 3),
      graft.functions.TextFns.wordShingles(lit(excerpt), 3))
    val jv = docs.limit(1).select(j).first().getDouble(0)
    assert(jv < 0.2, s"jaccard $jv should be diluted by the host length")
  }

  test("containment df cap drops stop-shingles from both the join and the source size") {
    import spark.implicits._
    // every doc shares one stop-phrase; docs 1 and 2 additionally share
    // their informative content verbatim. With maxDf = 3 < 6 docs, the
    // stop-phrase shingles must not generate candidates or count toward
    // n_src: docs 3-6 pair with NOTHING (their only overlap is the
    // stop-phrase), and doc 2's containment in doc 1 is exactly 1.0
    // (informative shingles only), not diluted or inflated by the cap.
    val stop = "as a matter of fact"
    val body = (1 to 30).map(i => s"tok$i").mkString(" ")
    val docs = (Seq(
      (1L, s"$stop $body extra trailing content here"),
      (2L, s"$stop $body")) ++
      (3L to 6L).map(id => (id, s"$stop unique${id}a unique${id}b unique${id}c")))
      .toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")))
    val out = Dedup.dedupContainmentDf(docs, threshold = 0.5, maxChars = 400, maxDf = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.forall(p => Set(p._1, p._2) == Set(1L, 2L)),
      s"stop-phrase-only overlaps must not pair: ${out.toSeq}")
    val d2 = out.find(p => p._1 == 2L && p._2 == 1L)
    assert(d2.exists(_._3 === 1.0),
      s"doc 2's informative shingles are all in doc 1: ${out.toSeq}")
    // uncapped, the same corpus pairs the stop-phrase-only docs too
    // (every doc shares 5+ shingles with every other via the stop
    // phrase, and the short docs' n_src is small enough to cross 0.5)
    val uncapped = Dedup.dedupContainmentDf(docs, threshold = 0.5, maxChars = 400,
        maxDf = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(uncapped.exists(p => p._1 >= 3L || p._2 >= 3L),
      "without the cap the stop phrase alone creates pairs — the thing the cap removes")
  }

  test("typed centroid aggregator: exact integer sums, partition-invariant, matches driver reference") {
    val emb = Tables.embeddings(spark, dir)
    val c1 = Centroid.centroids(emb)
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    // bit-identical under a different partitioning (integer sums are
    // associative — no FP order sensitivity)
    val c2 = Centroid.centroids(emb.repartition(13))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    assert(c1 === c2)
    // driver-side reference on one label
    val label = c1.keys.min
    val vecs = emb.filter(col("label") === label)
      .select("embedding").collect().map(_.getSeq[Float](0))
    val dim = vecs.head.length
    val ref = (0 until dim).map { i =>
      vecs.map(v => math.floor(v(i).toDouble * 1e9).toLong).sum.toDouble / 1e9 / vecs.length
    }
    assert(c1(label) === ref)
    // outliers: one row per (label, rank), scores within [-1, 1]
    val out = Centroid.embedOutliers(emb).collect()
    val perLabel = out.groupBy(_.getInt(0)).view.mapValues(_.length)
    assert(perLabel.values.forall(_ === 5))
    assert(out.forall(r => math.abs(r.getDouble(2)) <= 1.0))
  }

  test("cluster-coverage sample keeps exactly ceil(frac*n) prototypes per label") {
    val emb = Tables.embeddings(spark, dir)
    val cents = Centroid.centroids(emb)
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    val vecs = emb.select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2)))
    // driver reference: same left-fold order as the Spark aggregate()
    // expressions, same BigDecimal HALF_UP round-4 as functions.round
    def cos(v: Seq[Float], c: Seq[Double]): Double = {
      val e = v.map(_.toDouble)
      var dot = 0.0; var ne = 0.0; var nc = 0.0
      e.zip(c).foreach { case (a, b) => dot += a * b }
      e.foreach(a => ne += a * a); c.foreach(b => nc += b * b)
      dot / (math.sqrt(ne) * math.sqrt(nc))
    }
    def r4(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue
    val refSel = vecs.groupBy(_._2).toSeq.flatMap { case (label, rows) =>
      val scored = rows.map { case (id, _, v) => (id, r4(cos(v, cents(label)))) }
        .sortBy(t => (-t._2, t._1))
      scored.take(math.ceil(0.2 * rows.length).toInt).map(t => (label, t._1)).toSeq
    }.toSet
    val got = Centroid.coverageSample(emb, 0.2).collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    assert(got.toSet === refSel)
    // proportional allocation: per-label kept counts are ceil(0.2*n)
    val totals = vecs.groupBy(_._2).view.mapValues(_.length).toMap
    got.groupBy(_._1).foreach { case (label, rows) =>
      assert(rows.length === math.ceil(0.2 * totals(label)).toInt, s"label $label")
    }
  }

  test("text_nb_report: confusion cells count every document once, row fracs sum to 1") {
    import spark.implicits._
    val cm = Text.qTextNbReport(spark, dir)
      .as[(String, String, Long, Double)].collect()
    assert(cm.map(_._3).sum === Tables.documents(spark, dir).count())
    cm.groupBy(_._1).foreach { case (decl, rows) =>
      val fracSum = rows.map(_._4).sum
      // each frac rounds to 4dp, so a row of k cells sums to 1 within k ulps
      assert(math.abs(fracSum - 1.0) <= rows.length * 1e-4 + 1e-9,
        s"$decl: fracs sum to $fracSum")
    }
    // the matrix agrees cell-for-cell with a direct rollup of the
    // per-doc classifier output
    val direct = Text.qTextNbLang(spark, dir)
      .groupBy(col("label_declared"), col("label_pred")).count()
      .as[(String, String, Long)].collect().map(t => (t._1, t._2) -> t._3).toMap
    cm.foreach { case (d, p, n, _) => assert(direct((d, p)) === n) }
  }

  test("ann_recall_report: recall bounded, approx best never beats exact best") {
    import spark.implicits._
    val rows = Similarity.annRecallReport(spark, dir)
      .as[(Long, Double, Double, Option[Double])].collect()
    assert(rows.length === 5)
    rows.foreach { case (q, recall, exactBest, approxBest) =>
      assert(recall >= 0.0 && recall <= 1.0, s"query $q recall $recall")
      // the approx candidate set is a subset of the scored universe, so
      // its best cosine can never exceed the exact best
      approxBest.foreach(ab =>
        assert(ab <= exactBest, s"query $q: approx $ab beats exact $exactBest"))
      // set-recall 1.0 forces best-cosine equality
      if (recall == 1.0) assert(approxBest.contains(exactBest))
    }
  }

  test("dedup_novelty: exact copies read 1.0, unique docs 0.0, partial overlap in between") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),      // copy of 2
      (2L, "alpha beta gamma delta epsilon"),      // copy of 1
      (3L, "zeta eta theta iota kappa"),           // fully novel
      // shares shingle "alpha beta gamma" with 1/2, rest novel
      (4L, "alpha beta gamma mu nu xi"),
    ).toDF("doc_id", "text")
    val got = Dedup.dedupNoveltyDf(docs).as[(Long, Long, Double)]
      .collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(got(1L) === ((3L, 1.0)) && got(2L) === ((3L, 1.0)))
    assert(got(3L) === ((3L, 0.0)))
    assert(got(4L)._2 === 0.25) // 1 of its 4 shingles seen elsewhere
    // registered query: every doc scored, fractions in [0,1], and the
    // generator-planted near-dup pairs sit in the high tail
    val all = Dedup.dedupNovelty(spark, dir).as[(Long, Long, Double)].collect()
    assert(all.length === Tables.documents(spark, dir).count())
    assert(all.forall(t => t._3 >= 0.0 && t._3 <= 1.0))
    val dupIds = Dedup.dedupExact(spark, dir) // exact dups must read 1.0
      .filter(col("n_copies") > 1).select("doc_id").as[Long].collect().toSet
    if (dupIds.nonEmpty) {
      val frac = all.filter(t => dupIds(t._1)).map(_._3)
      assert(frac.forall(_ === 1.0), "an exact duplicate scored below 1.0")
    }
  }

  test("text_drift: identical distribution -> 0, disjoint vocabulary -> ln 2") {
    import spark.implicits._
    // source "same" emits exactly the rest's distribution (both sides
    // are two copies of the same two docs) -> jsd 0 exactly
    val mirrored = Seq(
      ("same", "alpha beta beta"), ("same", "gamma alpha"),
      ("restA", "alpha beta beta"), ("restB", "gamma alpha"),
      ("restA", "gamma alpha"), ("restB", "alpha beta beta"),
    ).toDF("source", "text")
    val m = Text.textDriftDf(mirrored).as[(String, Long, Double)]
      .collect().map(t => t._1 -> t._3).toMap
    assert(m("same") === 0.0)
    // a source sharing NO tokens with the rest maximizes JSD at ln 2
    // (vocabN covers both vocabularies, so nothing pools into OOV)
    val disjoint = Seq(
      ("new", "zig zag zig"), ("old1", "foo bar"), ("old2", "bar baz foo"),
    ).toDF("source", "text")
    val d = Text.textDriftDf(disjoint, vocabN = 24).as[(String, Long, Double)]
      .collect().map(t => t._1 -> t._3).toMap
    assert(math.abs(d("new") - math.log(2.0)) < 1e-6)
    // drift is symmetric in the pooled-OOV regime too: a 1-token vocab
    // pools everything, and a source with the rest's exact distribution
    // still reads 0
    val pooled = Text.textDriftDf(mirrored, vocabN = 1).as[(String, Long, Double)]
      .collect().map(t => t._1 -> t._3).toMap
    assert(pooled("same") === 0.0)
    // registered query: 20 sources, all values in [0, ln 2]
    val all = Text.textDrift(spark, dir).as[(String, Long, Double)].collect()
    assert(all.length === 20)
    assert(all.forall(t => t._3 >= 0.0 && t._3 <= math.log(2.0) + 1e-9))
    // a single-source corpus has no rest-distribution to drift from:
    // jsd must come out NULL (not NaN/Infinity from the 0/0 division)
    val solo = Seq(("only", "alpha beta"), ("only", "beta gamma"))
      .toDF("source", "text")
    val s = Text.textDriftDf(solo).collect()
    assert(s.length === 1 && s(0).getString(0) === "only")
    assert(s(0).getLong(1) === 4L && s(0).isNullAt(2))
  }

  test("text_boilerplate matches an in-memory segment-df reference exactly") {
    val docs = Tables.documents(spark, dir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+").toSeq).toMap
    val segs = docs.toSeq.flatMap { case (id, w) =>
      (0 until math.ceil(w.size / 5.0).toInt).map { i =>
        (id, w.slice(i * 5, i * 5 + 5).mkString(" "), math.min(5, w.size - i * 5))
      }
    }
    val dfreq = segs.groupBy(_._2).map { case (s, xs) => s -> xs.map(_._1).distinct.size }
    val expected = segs.groupBy(_._1).map { case (id, xs) =>
      val nb = xs.count(x => dfreq(x._2) >= 2).toLong
      val clean = xs.filter(x => dfreq(x._2) < 2).map(_._3).sum.toLong
      id -> ((xs.size.toLong, nb, clean))
    }
    val got = Text.textBoilerplate(spark, dir).collect()
    assert(got.length === expected.size)
    got.foreach { r =>
      val (ns, nb, ct) = expected(r.getLong(0))
      assert(r.getLong(1) === ns)
      assert(r.getLong(2) === nb)
      assert(r.getLong(3) === ct)
      assert(r.getDouble(4) === nb.toDouble / ns)
    }
    // the corpus plants near-dup passages, so boilerplate must trigger
    assert(got.exists(_.getLong(2) > 0))
    assert(got.exists(_.getLong(2) === 0L))
  }

  test("text_dsir matches an importance-weight reference (md5 buckets, decimal lls)") {
    import java.math.{BigDecimal => JBD, RoundingMode}
    def bucket(tok: String): Long = {
      val h = java.security.MessageDigest.getInstance("MD5").digest(tok.getBytes("UTF-8"))
      val hex = h.take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16) % 64
    }
    val toks = Tables.documents(spark, dir).select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(2).trim.split("\\s+").toSeq.map(bucket)))
    val rt = toks.map(_._3.size.toLong).sum
    val tt = toks.filter(_._2 == "en").map(_._3.size.toLong).sum
    val tcnt = toks.filter(_._2 == "en").flatMap(_._3).groupBy(identity).view.mapValues(_.size).toMap
    val rcnt = toks.flatMap(_._3).groupBy(identity).view.mapValues(_.size).toMap
    // same HALF_UP DECIMAL(18,9) quantization as the Spark cast
    val w = rcnt.keys.map { b =>
      val raw = math.log(((tcnt.getOrElse(b, 0) + 1.0) * (rt + 64))
        / ((rcnt(b) + 1.0) * (tt + 64)))
      b -> new JBD(raw).setScale(9, RoundingMode.HALF_UP)
    }.toMap
    val scored = toks.map { case (id, _, bs) =>
      val swc = bs.groupBy(identity)
        .map { case (b, xs) => w(b).multiply(new JBD(xs.size)) }
        .reduce(_.add(_))
      (id, swc.doubleValue / bs.size)
    }
    val top = scored.sortBy { case (id, s) => (-s, id) }.take(100).toSeq
    val got = Text.textDsir(spark, dir).select("doc_id", "score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got === top)
    // the target slice must separate: english docs should dominate the top
    val langOf = toks.map(t => t._1 -> t._2).toMap
    val topLangs = got.take(20).map(t => langOf(t._1))
    assert(topLangs.count(_ == "en") > 10)
  }

  test("corpus overlap composes doc-level minhash kernels exactly and stays in [0,1]") {
    import graft.functions.Sketches
    val rows = Tables.documents(spark, dir).select("source", "text").collect()
    val k = Dedup.OverlapHashes
    val sigs = rows.groupBy(_.getString(0)).map { case (src, rs) =>
      val mins = Array.fill(k)(Long.MaxValue)
      rs.foreach { r =>
        val sig = Sketches.minhash(r.getString(1).getBytes("UTF-8"), 3, k)
        var i = 0
        while (i < k) { if (sig(i) < mins(i)) mins(i) = sig(i); i += 1 }
      }
      src -> mins
    }
    val expected = (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
    } yield (a, b, (0 until k).count(i => sa(i) == sb(i)).toDouble / k)).toSet
    val got = Dedup.corpusOverlap(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    assert(got === expected)
    assert(got.forall { case (_, _, j) => j >= 0.0 && j <= 1.0 })
    val nSrc = sigs.size
    assert(got.size === nSrc * (nSrc - 1) / 2)
  }

  test("knn graph: candidates are exactly the Hamming<=1 bucket mates, ranked by cosine") {
    val sigRows = Tables.embeddings(spark, dir)
      .select(col("vec_id"), Similarity.lshSignature(col("embedding")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    // unbounded k = the full ranked candidate table
    val all = Similarity.annKnnGraph(spark, dir, k = Int.MaxValue).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val expectedPairs = (for {
      (q, sq) <- sigRows; (c, sc) <- sigRows
      if c != q && java.lang.Long.bitCount(sq ^ sc) <= 1
    } yield (q, c)).toSet
    assert(all.map(t => (t._1, t._2)).toSet === expectedPairs)
    // per query: rn consecutive from 1, ordered by (cosine desc, neighbor)
    all.groupBy(_._1).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._4)
      assert(sorted.map(_._4).toSeq === (1 to rows.length))
      val resorted = rows.sortBy(t => (-t._3, t._2))
      assert(resorted.map(_._2).toSeq === sorted.map(_._2).toSeq)
    }
    // default k truncates the same ranking
    val top = Similarity.annKnnGraph(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(top === all.filter(_._4 <= 3).toSet)
    assert(top.nonEmpty)
  }

  test("lang_scores: one walk equals the argmax expression and scores every profile") {
    import graft.functions.{LangId, LangScores, TextFns}
    val rows = Tables.documents(spark, dir)
      .select(LangId(col("text")).as("best"), LangScores(col("text")).as("all"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val best = (r.getStruct(0).getDouble(0), r.getStruct(0).getString(1))
      val all = r.getSeq[org.apache.spark.sql.Row](1)
        .map(s => (s.getString(0), s.getDouble(1)))
      assert(all.map(_._1) === TextFns.langProfiles.map(_._1),
        "profile order is fixed")
      // argmax with ties toward the greatest code == the LangId struct
      val arg = all.maxBy(t => (t._2, t._1))
      assert((arg._2, arg._1) === best)
      all.foreach { case (_, s) => assert(s >= 0.0 && s <= 1.0) }
    }
  }

  test("text_auc: hand-computed midrank cases; degenerate classes emit NULL") {
    import spark.implicits._
    // en: positives score {0.5, 0}, negatives {0, 0} -> midranks give 0.75;
    // de: positives {0, 1.0}, negatives {0, 0} -> 0.75; es/fr/zh: no
    // positives -> NULL
    val docs = Seq(
      (1L, "de", "xyz qqq"),
      (2L, "en", "the cat"),
      (3L, "en", "zzz yyy"),
      (4L, "de", "und und"),
    ).toDF("doc_id", "lang", "text")
    val got = Text.langAucDf(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(got("en") === ((2L, 2L, Some(0.75))))
    assert(got("de") === ((2L, 2L, Some(0.75))))
    Seq("es", "fr", "zh").foreach(l => assert(got(l) === ((0L, 4L, None))))
    // perfect separation and perfect anti-separation hit the AUC extremes
    val sep = Seq(
      (1L, "en", "the of and"), (2L, "en", "to a in"),
      (3L, "de", "blah blub"), (4L, "de", "qqq zzz"),
    ).toDF("doc_id", "lang", "text")
    val gotSep = Text.langAucDf(sep).collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(gotSep("en") === Some(1.0), "all positives outscore all negatives")
    // de positives score 0 while the en docs also score 0 on the de
    // profile -> all tied -> 0.5
    assert(gotSep("de") === Some(0.5))
  }

  test("text_nb_margin: tau=0 row is the classifier's full-coverage accuracy, curve consistent") {
    val docs = Tables.documents(spark, dir)
    val rows = Text.qTextNbMargin(spark, dir).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4))))
    // every grid threshold is present, including zero-kept tails
    assert(rows.map(_._1).toSeq === Text.NbMarginGrid.toSeq)
    // coverage and kept counts shrink monotonically with the threshold
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._2 <= a._2); assert(b._4 <= a._4)
    }
    rows.foreach { case (_, kept, correct, cov, acc) =>
      assert(correct <= kept)
      if (kept > 0) assert(math.abs(acc.get - correct.toDouble / kept) < 1e-6)
      else assert(acc.isEmpty && cov == 0.0)
      assert(cov >= 0 && cov <= 1.0)
    }
    // the tau=0 row keeps every scored doc and reproduces the argmax
    // accuracy of nbClassify
    val pred = Text.nbClassify(docs, "lang").collect()
    val nScored = pred.length.toLong
    val nOk = pred.count(r => r.getString(1) == r.getString(3)).toLong
    val t0 = rows.find(_._1 == 0.0).get
    assert((t0._2, t0._3) === ((nScored, nOk)))
  }

  test("dedup_threshold_sweep: grid-complete, monotone, and anchored at dedup_minhash") {
    val rows = Dedup.dedupThresholdSweep(spark, dir).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.map(_._1).toSeq === Dedup.SweepGrid.toSeq, "every grid row present")
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._2 <= a._2, s"pairs monotone at ${b._1}")
      assert(b._3 <= a._3, s"docs monotone at ${b._1}")
    }
    val nDocs = Tables.documents(spark, dir).count()
    rows.foreach { case (_, pairs, docsAff, frac) =>
      assert(docsAff <= 2 * pairs)
      assert((pairs == 0) == (docsAff == 0))
      assert(math.abs(frac - docsAff.toDouble / nDocs) < 1e-6)
    }
    // the 0.8 grid point counts exactly the dedup_minhash pairs
    val mh = Dedup.dedupMinhash(spark, dir).collect()
    val at08 = rows.find(_._1 == 0.8).get
    assert(at08._2 === mh.length.toLong)
    assert(at08._3 === mh.flatMap(r => Seq(r.getLong(0), r.getLong(1))).distinct.length.toLong)
  }

  test("sampled sweep/calibration: exact when the sample covers the corpus; tracks the exact curve under real sampling") {
    // sf0.001: 500 docs <= SweepSampleDocs, so the hash sample IS the
    // corpus and both sampled variants must equal the exact queries row
    // for row — pinning that the sampling plumbing changes nothing but
    // the input population
    val exSweep = Dedup.dedupThresholdSweep(spark, dir).collect().map(_.toString)
    val saSweep = Dedup.dedupThresholdSweepSampled(spark, dir).collect().map(_.toString)
    assert(saSweep.toSeq === exSweep.toSeq, "sample covering the corpus: sweep identical")
    val exCal = Dedup.dedupLshCalibration(spark, dir).collect().map(_.toString)
    val saCal = Dedup.dedupLshCalibrationSampled(spark, dir).collect().map(_.toString)
    assert(saCal.toSeq === exCal.toSeq, "sample covering the corpus: calibration identical")

    // sf0.1: 5000 docs, a real 1024-doc draw. The knob-picking signal is
    // the SHAPE of the curve (where the near-dup band sits), so the pin
    // is the threshold-survival curve n_pairs(t)/n_pairs(floor): with
    // ~12 surviving sample pairs its binomial noise is ~sqrt(.5·.5/12)
    // ≈ 0.14 one sigma at worst, so 0.25 is a ~2-sigma band that still
    // fails on any systematic shape distortion (e.g. a sample rule
    // biased toward one duplication cluster).
    val big = "/root/testdata/sf0.1"
    val ex = Dedup.dedupThresholdSweep(spark, big).collect()
      .map(r => r.getDouble(0) -> r.getLong(1)).toMap
    val sa = Dedup.dedupThresholdSweepSampled(spark, big).collect()
      .map(r => r.getDouble(0) -> r.getLong(1)).toMap
    assert(sa(Dedup.SweepGrid.head) > 0, "the sample must surface duplicate pairs")
    Dedup.SweepGrid.foreach { t =>
      val exRel = ex(t).toDouble / ex(Dedup.SweepGrid.head)
      val saRel = sa(t).toDouble / sa(Dedup.SweepGrid.head)
      assert(math.abs(exRel - saRel) <= 0.25,
        s"survival curve at $t: sampled $saRel vs exact $exRel")
    }
    // calibration: every sampled bin must exist in the exact truth with
    // a catch-rate and estimator mean in the same regime (the banding
    // curve is a per-pair property, so a uniform pair subset can only
    // move a bin's mean by sampling noise)
    val exBins = Dedup.dedupLshCalibration(spark, big).collect()
      .map(r => r.getDouble(0) -> (r.getDouble(3), r.getDouble(4))).toMap
    val saBins = Dedup.dedupLshCalibrationSampled(spark, big).collect()
      .map(r => (r.getDouble(0), r.getDouble(3), r.getDouble(4)))
    assert(saBins.nonEmpty)
    saBins.foreach { case (b, rate, est) =>
      val (exRate, exEst) = exBins(b)
      assert(math.abs(rate - exRate) <= 0.15, s"bin $b catch rate")
      assert(math.abs(est - exEst) <= 0.05, s"bin $b estimator mean")
    }
  }

  test("dedup_lsh_calibration: bins partition the exact truth, caught matches direct band agreement") {
    import spark.implicits._
    val baseToks = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon").split(" ")
    // prefix-overlap variants: close ids share most tokens (high jaccard),
    // distant ids land in lower bins — pairs spread across the bin range
    val docs = (0 until 12).map { i =>
      val text = (baseToks.take(20 - i) ++ (0 until i).map(j => s"nov${i}_$j")).mkString(" ")
      (i.toLong, text)
    }.toDF("doc_id", "text")
    val truth = Dedup.dedupPrefixDocs(docs, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(truth.nonEmpty)
    def bin(j: Double): Int =
      math.min((BigDecimal(j).setScale(4, BigDecimal.RoundingMode.HALF_UP) * 10)
        .setScale(0, BigDecimal.RoundingMode.FLOOR).toInt, 9)
    assert(truth.map(t => bin(t._3)).distinct.length >= 3,
      "planted pairs should span several bins")
    // direct band agreement + component agreement from the signatures
    val sigs = Dedup.minhashSignatures(docs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    val direct = truth.map { case (a, b, j) =>
      val (sa, sb) = (sigs(a), sigs(b))
      val caught = (0 until Dedup.Bands)
        .exists(bb => (0 until 4).forall(k => sa(4 * bb + k) == sb(4 * bb + k)))
      val nEq = (0 until Dedup.NumHashes).count(i => sa(i) == sb(i))
      (bin(j), caught, nEq)
    }
    val got = Dedup.lshCalibrationDf(docs).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(got.map(_._2).sum === truth.length.toLong, "bins partition the truth pairs")
    got.foreach { case (binLo, nPairs, nCaught, rate, est) =>
      val b = math.round(binLo * 10).toInt
      val mine = direct.filter(_._1 == b)
      assert(mine.length.toLong === nPairs, s"bin $binLo pair count")
      assert(mine.count(_._2).toLong === nCaught, s"bin $binLo caught count")
      assert(math.abs(rate - nCaught.toDouble / nPairs) < 1e-6)
      val expEst = mine.map(_._3).sum.toDouble / (mine.length * Dedup.NumHashes)
      assert(math.abs(est - expEst) < 1e-3, s"bin $binLo estimator mean")
      // the estimator tracks the bin's jaccard range (128 hashes: sd
      // ~0.04, and these are fixed texts so the value is deterministic)
      assert(est >= binLo - 0.15 && est <= binLo + 0.1 + 0.15)
    }
    // banding theory: at j >= 0.8 catch probability is 1-2e-7 — the high
    // bins must be fully caught
    got.filter(_._1 >= 0.8).foreach { case (binLo, n, c, _, _) =>
      assert(c === n, s"bin $binLo must be fully caught")
    }
  }

  test("ann_pq_curve: anchored at the M=8 operating point, empirical direction holds") {
    val rows = Pq.annPqCurve(spark, dir).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getLong(5), r.getDouble(6)))
    assert(rows.map(_._1).toSeq === Pq.PqCurveGrid.toSeq, "every grid row present")
    val nVec = Tables.embeddings(spark, dir).count()
    rows.foreach { case (m, bytes, n, _, hits, nEx, recall) =>
      assert(bytes === m, "one byte per code at ksub=256")
      assert(n === nVec)
      assert(nEx === 25L && hits <= nEx)
      assert(math.abs(recall - hits.toDouble / nEx) < 1e-6)
    }
    // the M=8 point must agree with the registered single-point graders:
    // corpus mean per-VECTOR error = sum over subspaces of the
    // per-subspace means (each vector contributes one term per subspace)
    val perSub = Pq.annPqDistortion(spark, dir).collect().map(_.getDouble(2)).sum
    val at8 = rows.find(_._1 == 8).get
    assert(math.abs(at8._4 - perSub) < 1e-6, "m=8 distortion anchors ann_pq_distortion")
    // and its hit count equals the registered ann_pq_search judged
    // against the same exact truth
    val exact = Similarity.annTopkBatch(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val directHits = Pq.annPqSearch(spark, dir).collect()
      .count(r => exact((r.getLong(0), r.getLong(1)))).toLong
    assert(at8._5 === directHits, "m=8 recall anchors ann_pq_search")
    // NOT monotone by construction (independent codebooks per M) — this
    // asserts the measured direction on the test corpus: finer subspaces
    // quantize less, and the gained fidelity shows up in recall
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._4 < a._4, s"distortion must fall from M=${a._1} to M=${b._1}")
      assert(b._7 >= a._7, s"recall must not fall from M=${a._1} to M=${b._1}")
    }
  }

  test("ann_probe_curve: each grid point equals the direct search at that nProbe, recall monotone") {
    val curve = Ivf.annProbeCurve(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(curve.map(_._1).toSeq === Ivf.ProbeGrid.toSeq)
    // nested probe sets -> monotone nondecreasing hits/recall
    curve.sliding(2).foreach { case Array(a, b) =>
      assert(b._2 >= a._2, s"hits monotone at nprobe ${b._1}")
    }
    curve.foreach { case (_, hits, nExact, recall) =>
      assert(hits <= nExact)
      assert(math.abs(recall - math.floor(hits.toDouble / nExact * 1e4 + 0.5) / 1e4) < 1e-9)
    }
    // the one-join curve reproduces the direct per-nProbe searches exactly
    val emb = Tables.embeddings(spark, dir)
    val centroids = Ivf.trainCentroids(emb)
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_emb"))
    val exact = Similarity.annTopkBatch(spark, dir, nQueries = 5, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    Seq(1, 4).foreach { p =>
      val direct = Ivf.search(emb, queries, centroids, k = 5, nProbe = p)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val hitsDirect = direct.intersect(exact).size.toLong
      assert(curve.find(_._1 == p).get._2 === hitsDirect,
        s"curve hits at nprobe=$p must equal the direct search's")
    }
  }

  test("q_split_report: TVD matches an integer recomputation from raw counts") {
    val docs = Tables.documents(spark, dir)
    val rows = Curation.splitReportDf(docs).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getDouble(3), r.getString(4), r.getDouble(5)))).toMap
    assert(rows.keySet.map(_._1) === Set("train", "val", "test"))
    assert(rows.keySet.map(_._2) === Set("lang", "source"))
    // recompute from raw counts with BigInt arithmetic
    val raw = docs.select(Curation.splitAssign(col("doc_id")).as("split"),
        col("lang"), col("source")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    val n = raw.length.toLong
    Seq(("lang", (t: (String, String, String)) => t._2),
        ("source", (t: (String, String, String)) => t._3)).foreach { case (dim, f) =>
      val nV = raw.groupBy(f).view.mapValues(_.length.toLong).toMap
      raw.groupBy(_._1).foreach { case (split, rs) =>
        val nS = rs.length.toLong
        val nums = nV.map { case (v, nv) =>
          val nsv = rs.count(f(_) == v).toLong
          v -> (BigInt(nsv) * n - BigInt(nv) * nS).abs
        }
        val tvd = (BigDecimal(nums.values.sum) /
          (BigDecimal(2) * nS * n)).toDouble
        val (worstV, worstNum) = nums.toSeq.sortBy(t => (-t._2, t._1)).head
        val (gotN, gotTvd, gotWv, gotWg) = rows((split, dim))
        assert(gotN === nS, s"$split/$dim size")
        assert(math.abs(gotTvd - tvd) < 1e-5, s"$split/$dim tvd")
        assert(gotWv === worstV, s"$split/$dim worst value")
        assert(math.abs(gotWg - (BigDecimal(worstNum) / (BigDecimal(nS) * n)).toDouble) < 1e-5)
        assert(gotTvd >= 0 && gotTvd <= 1.0)
      }
    }
  }

  test("text_auc equals the pairwise P(pos>neg) + P(tie)/2 definition on a randomized corpus") {
    import spark.implicits._
    import graft.functions.TextFns
    val rnd = new scala.util.Random(7)
    val profiles = TextFns.langProfiles.toMap
    val langs = TextFns.langProfiles.map(_._1)
    val docs = (1 to 60).map { i =>
      val lang = langs(rnd.nextInt(langs.size))
      val words = (0 to rnd.nextInt(12)).map { _ =>
        rnd.nextInt(10) match {
          case r if r < 3 => profiles("en")(rnd.nextInt(12))
          case r if r < 5 => profiles("de")(rnd.nextInt(12))
          case _          => s"w${rnd.nextInt(30)}"
        }
      }
      (i.toLong, lang, words.mkString(" "))
    }.toDF("doc_id", "lang", "text")
    val scored = docs
      .select(col("lang"), graft.functions.LangScores(col("text")).as("ls"))
      .collect()
      .map(r => r.getString(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(s => s.getString(0) -> s.getDouble(1)).toMap)
    val got = Text.langAucDf(docs).collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    langs.foreach { l =>
      val pos = scored.filter(_._1 == l).map(_._2(l))
      val neg = scored.filter(_._1 != l).map(_._2(l))
      if (pos.nonEmpty && neg.nonEmpty) {
        val wins = (for { p <- pos; n <- neg }
          yield if (p > n) 1.0 else if (p == n) 0.5 else 0.0).sum
        val auc = wins / (pos.size.toLong * neg.size)
        assert(math.abs(got(l).get - auc) < 1e-6, s"profile $l")
      } else assert(got(l).isEmpty, s"degenerate profile $l must be NULL")
    }
  }

  test("threshold sweep pair counts equal per-threshold recall-1 runs at every grid point") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vocab = (0 until 40).map(i => s"tok$i")
    // overlapping random docs: shared prefixes of a base word sequence
    // plant pairs across the whole jaccard range
    val base = (0 until 30).map(_ => vocab(rnd.nextInt(vocab.size)))
    val docs = (1 to 40).map { i =>
      val keep = 8 + rnd.nextInt(22)
      val novel = (0 until (30 - keep)).map(j => s"n${i}_$j")
      (i.toLong, (base.take(keep) ++ novel).mkString(" "))
    }.toDF("doc_id", "text")
    val sweep = Dedup.thresholdSweepDf(docs).collect()
      .map(r => r.getDouble(0) -> r.getLong(1)).toMap
    Dedup.SweepGrid.foreach { t =>
      val direct = Dedup.dedupPrefixDocs(docs, t).count()
      assert(sweep(t) === direct,
        s"sweep at $t must equal the direct recall-1 run")
    }
  }

  test("q_mix_sweep: alpha=1 is the identity mixture, alpha=0.5 equals q_mix_weights") {
    val docs = Tables.documents(spark, dir)
    val sweep = Curation.mixtureSweepDf(docs).collect()
      .map(r => ((r.getDouble(0), r.getString(1)),
        (r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    val sources = sweep.keySet.map(_._2)
    assert(sweep.keySet.map(_._1) === Curation.MixAlphaGrid.toSet)
    // alpha = 1: natural mixture — target share == share, weight == 1
    sources.foreach { s =>
      val (share, tgt, w) = sweep((1.0, s))
      assert(math.abs(tgt - share) < 2e-6, s"$s at alpha=1")
      assert(math.abs(w - 1.0) < 1e-4, s"$s weight at alpha=1")
    }
    // the 0.5 row is exactly the registered q_mix_weights mixture
    val base = Curation.mixtureWeights(docs, 0.5).collect()
      .map(r => r.getString(0) -> (r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    sources.foreach(s => assert(sweep((0.5, s)) === base(s), s"$s at alpha=0.5"))
    // flattening monotone in temperature: the scarcest source's
    // up-weight never increases with alpha; the dominant source's never
    // decreases
    val byShare = sources.toSeq.sortBy(s => sweep((1.0, s))._1)
    val (scarcest, dominant) = (byShare.head, byShare.last)
    Curation.MixAlphaGrid.toSeq.sorted.sliding(2).foreach { case Seq(a1, a2) =>
      assert(sweep((a2, scarcest))._3 <= sweep((a1, scarcest))._3 + 1e-9)
      assert(sweep((a2, dominant))._3 >= sweep((a1, dominant))._3 - 1e-9)
    }
  }

  test("q_split_report: a NULL category is a real value, not a fabricated zero") {
    import spark.implicits._
    // doc_ids chosen so the md5 split puts them in >1 split; lang NULL
    // for half the corpus — the TVD must compare NULL's split share
    // against NULL's corpus share (null-safe join), not coalesce it to 0
    val docs = (1L to 64L).map(i =>
      (i, if (i % 2 == 0) null else "en", s"src${i % 3}"))
      .toDF("doc_id", "lang", "source")
    val rows = Curation.splitReportDf(docs).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getDouble(3))).toMap
    // with only {en, NULL} at a 50/50 corpus share, TVD per split is
    // |n_s_en/n_s - 1/2| (the NULL term mirrors it); a null-unsafe join
    // would instead add NULL's full corpus mass and overshoot
    val raw = docs.select(Curation.splitAssign(col("doc_id")).as("split"), col("lang"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    raw.groupBy(_._1).foreach { case (split, rs) =>
      val nS = rs.length.toDouble
      val pEn = rs.count(_._2 == "en") / nS
      val expected = math.abs(pEn - 0.5)
      assert(math.abs(rows((split, "lang")) - expected) < 1e-6,
        s"$split lang TVD must treat NULL as a category")
    }
  }

  test("ann_pq_distortion: matches a driver-side recomputation from the trained codebooks") {
    val emb = Tables.embeddings(spark, dir)
    val codebooks = Pq.trainCodebooks(emb)
    val subDim = 64 / Pq.M
    def normalize(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      if (n > 0) v.map(x => (x / n).toFloat) else v
    }
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> normalize(r.getSeq[Float](1).toArray)).toMap
    val codes = Pq.encodeCorpus(emb, codebooks).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toArray).toMap
    // per-(vec, subspace) distance in the query's exact fold order
    def dist(v: Array[Float], s: Int, code: Int): Double = {
      var acc = 0.0
      var j = 0
      while (j < subDim) {
        val t = v(s * subDim + j).toDouble - codebooks(s)(code)(j).toDouble
        acc += t * t
        j += 1
      }
      acc
    }
    // the assigned code minimizes the subspace distance (spot-check)
    vecs.take(5).foreach { case (id, v) =>
      (0 until Pq.M).foreach { s =>
        val d0 = dist(v, s, codes(id)(s))
        (0 until Pq.Ksub by 17).foreach(c => assert(d0 <= dist(v, s, c) + 1e-12))
      }
    }
    val expected = (0 until Pq.M).map { s =>
      val ds = vecs.toSeq.map { case (id, v) =>
        BigDecimal(dist(v, s, codes(id)(s))).setScale(12, BigDecimal.RoundingMode.HALF_EVEN)
      }
      val mean = (ds.sum / ds.length).toDouble
      val mx = vecs.toSeq.map { case (id, v) => dist(v, s, codes(id)(s)) }.max
      (s, vecs.size.toLong, mean, mx)
    }
    val got = Pq.annPqDistortion(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    expected.zip(got.sortBy(_._1)).foreach { case ((s, n, mean, mx), (gs, gn, gmean, gmx)) =>
      assert(gs === s); assert(gn === n)
      assert(math.abs(gmean - mean) < 1e-7, s"subspace $s mean")
      assert(math.abs(gmx - mx) < 1e-7, s"subspace $s max")
    }
  }

  test("text_heaps: buckets partition the corpus, cum totals equal direct distinct counts") {
    import graft.functions.{TextFns, WordShingles}
    val docs = Tables.documents(spark, dir)
    val rows = Text.textHeaps(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(7), r.getLong(8), r.getLong(9)))
    assert(rows.map(_._1).toSeq === rows.map(_._1).sorted.toSeq)
    assert(rows.map(_._2).sum === docs.count())
    // cumulative columns really accumulate the per-bucket columns
    assert(rows.map(_._3).sum === rows.last._5)
    assert(rows.map(_._4).sum === rows.last._6)
    assert(rows.map(_._8).sum === rows.last._9)
    // final cumulative type counts equal direct whole-corpus distincts
    val vocab = docs.select(explode(TextFns.tokens(lower(col("text")))).as("t"))
      .agg(countDistinct(col("t"))).first().getLong(0)
    val shingleVocab = docs
      .select(explode(WordShingles(lower(col("text")), 3)).as("s"))
      .agg(countDistinct(col("s"))).first().getLong(0)
    assert(rows.last._6 === vocab)
    assert(rows.last._9 === shingleVocab)
  }
}

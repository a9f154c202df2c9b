package graft.ops

import graft.SparkSuite
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/** Kill-at-every-step coverage for the pointer-commit publish
  * ([[Publish]]): crash after each step, classify + settle, and at EVERY
  * interleave a reader resolving through [[Publish.current]] must see a
  * consistent committed store — the old version before the commit, the
  * new one after. Plus the StoreIO append/fold/replay drill and the
  * maintenance lifecycle on the one protocol.
  */
class PointerStoreSpec extends SparkSuite {

  private def fs = new Path("/tmp").getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  private def freshRoot(): (String, DataFrame, DataFrame) = {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("ptr")
      .resolve("store").toString
    val oldF = (1L to 10L).map(i => (i, s"old $i")).toDF("id", "v")
    val newF = (1L to 12L).map(i => (i, s"new $i")).toDF("id", "v")
    Publish.publish(spark, root, oldF)
    (root, oldF, newF)
  }

  private def rows(path: String): Set[String] =
    spark.read.parquet(path).collect().map(_.toString).toSet

  private def rowsOf(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  private def resolved(root: String): String =
    Publish.resolveLive(spark, root).getOrElse(fail(s"no committed version at $root"))

  test("pointer publish: happy path commits a new version and GCs the superseded one") {
    val (root, _, newF) = freshRoot()
    val v0 = resolved(root)
    Publish.publish(spark, root, newF)
    val v1 = resolved(root)
    assert(v1 !== v0)
    assert(rows(v1) === rowsOf(newF))
    assert(!fs.exists(new Path(v0)), "superseded version not GC'd")
    assert(Publish.recover(spark, root) === "none")
  }

  test("pointer publish killed after EVERY step: a resolver always sees a committed consistent store") {
    for (step <- Seq(Publish.AfterSpark, Publish.AfterStage,
        Publish.AfterCommit)) {
      val (root, oldF, newF) = freshRoot()
      intercept[RuntimeException] {
        Publish.publishImpl(spark, root, newF, Nil, crashAfter = step)
      }
      // BEFORE any recovery, the resolver must already be consistent:
      // the commit PUT is the one atom that flips old → new
      val expected =
        if (step == Publish.AfterCommit) rowsOf(newF) else rowsOf(oldF)
      assert(rows(resolved(root)) === expected, s"step $step resolver torn")
      val action = Publish.recover(spark, root)
      assert(action === "cleared", s"step $step left nothing to settle?")
      assert(rows(resolved(root)) === expected, s"step $step settled wrong")
      // exactly one version + one pointer remain
      val entries = fs.listStatus(new Path(root)).map(_.getPath.getName)
      assert(entries.count(_.startsWith("_v-")) === 1, entries.mkString(","))
      assert(entries.count(_.startsWith("_ptr-")) === 1, entries.mkString(","))
      // recovery is idempotent and the settled store publishes cleanly
      assert(Publish.recover(spark, root) === "none")
      Publish.publish(spark, root, newF)
      assert(rows(resolved(root)) === rowsOf(newF))
    }
  }

  test("a torn pointer file names no complete version: skipped by the resolver, collected by recovery") {
    val (root, oldF, _) = freshRoot()
    val n = Publish.current(spark, root).get.n
    // fabricate the crash-inside-the-PUT state a filesystem can leave:
    // a higher-numbered pointer naming a version that does not exist
    Publish.writeSmallFile(fs, new Path(root, f"_ptr-${n + 1}%08d"),
      Publish.versionName(n + 1))
    assert(rows(resolved(root)) === rowsOf(oldF), "torn pointer won")
    assert(Publish.recover(spark, root) === "cleared")
    assert(rows(resolved(root)) === rowsOf(oldF))
    // and an EMPTY pointer file (zero bytes flushed) is equally inert
    Publish.writeSmallFile(fs, new Path(root, f"_ptr-${n + 2}%08d"), "")
    assert(rows(resolved(root)) === rowsOf(oldF))
    assert(Publish.recover(spark, root) === "cleared")
  }

  test("hive partitioning survives the version swap; only the newest committed version is retained") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("ptr_hist")
      .resolve("store").toString
    val f1 = (1L to 9L).map(i => (i, i % 3)).toDF("id", "batch")
    val f2 = (1L to 9L).map(i => (i, i % 2)).toDF("id", "batch")
    Publish.publish(spark, root, f1, Seq("batch"))
    val v1 = resolved(root)
    Publish.publish(spark, root, f2, Seq("batch"))
    val v2 = resolved(root)
    assert(!fs.exists(new Path(v1)), "superseded version was kept")
    assert(rows(v2).map(_.takeWhile(_ != ',')) ===
      rowsOf(f2).map(_.takeWhile(_ != ',')))
    assert(fs.listStatus(new Path(v2))
      .exists(_.getPath.getName.startsWith("batch=")))
  }

  test("StoreIO on the pointer commit: append/fold/replay discipline is exactly-once row for row") {
    import spark.implicits._
    val Ddl = "id BIGINT, v STRING"
    val root = java.nio.file.Files.createTempDirectory("ptr_storeio")
      .resolve("store").toString
    val live = (1L to 6L).map(i => (i, s"live $i")).toDF("id", "v")
    val b1 = (100L to 104L).map(i => (i, s"b1 $i")).toDF("id", "v")
    val b2 = (200L to 201L).map(i => (i, s"b2 $i")).toDF("id", "v")
    // bootstrap through a fold (snapshot of nothing)
    val s0 = StoreIO.snapshot(spark, root, Some(Ddl))
    StoreIO.publishMerged(spark, root, live, s0)
    StoreIO.append(b1, root, token = "t1")
    // fold b1 into live, then REPLAY t1 — must stay exactly-once
    StoreIO.rewrite(spark, root, identity, Some(Ddl))
    StoreIO.append(b1, root, token = "t1")
    StoreIO.append(b2, root, token = "t2")
    assert(StoreIO.read(spark, root, Some(Ddl)).collect().map(_.toString)
      .sorted.toSeq === (rowsOf(live) ++ rowsOf(b1) ++ rowsOf(b2)).toSeq.sorted)
    // the folded rows live in the committed version, the late append in
    // its delta child
    assert(rows(resolved(root)) === rowsOf(live) ++ rowsOf(b1))
    assert(StoreIO.deltaChildren(spark, root).map(c => new Path(c).getName) ===
      Seq("d-t2"))
  }

  test("maintenance lifecycle: runMaintenance repairs through pointer commits and the served IVF search matches a from-scratch layout") {
    import org.apache.spark.sql.functions.{col, lit, md5, when}
    import graft.ext.{Dedup, Ivf, Pq, Packing, Backfill}
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables.documents(spark, sf).localCheckpoint()
    val emb = graft.Tables.embeddings(spark, sf).localCheckpoint()
    val cents = Ivf.trainCentroids(emb)
    val codebooks = Pq.trainCodebooks(emb)
    val healthyH = docs.select(md5(col("text").cast("binary")).as("h"),
      col("doc_id"), (col("doc_id") % 3).as("batch")).localCheckpoint()
    val docR = docs.orderBy("doc_id").head().getLong(0) // rotten hash
    val root = java.nio.file.Files.createTempDirectory("ptr_maint")
    val (hP, mP, pP) = (root.resolve("hashes").toString,
      root.resolve("manifest").toString, root.resolve("pairs").toString)
    val (lP, cP) = (root.resolve("layout").toString,
      root.resolve("codes").toString)
    val iP = root.resolve("index").toString
    val (qP, kP, fP) = (root.resolve("ivfpq").toString,
      root.resolve("packed").toString, root.resolve("features").toString)
    // healthy stores, except one rotten hash (routes `repair`: publishes
    // hashes, manifest, and pairs) and one misassigned layout row
    // (routes `rebuild`: publishes the serving layout)
    Publish.publish(spark, hP, healthyH
      .withColumn("h", when(col("doc_id") === docR, lit("0" * 32))
        .otherwise(col("h"))), Seq("batch"))
    Publish.publish(spark, mP, Packing.packSequences(docs))
    Dedup.pairsArtifactInit(docs, pP)
    Publish.publish(spark, lP, Ivf.layoutFrame(emb, cents)
      .withColumn("list_id", when(col("vec_id") === 0L,
        (col("list_id") + 1) % cents.size).otherwise(col("list_id"))),
      Seq("list_id"))
    Publish.publish(spark, cP, Pq.encodeCorpus(emb, codebooks))
    Dedup.indexInit(docs, iP)
    Publish.publish(spark, qP, Pq.ivfPqLayoutFrame(emb, cents, codebooks),
      Seq("list_id"))
    Publish.publish(spark, kP, Packing.packedFrame(docs), Seq("shard"))
    Publish.publish(spark, fP, Backfill.featureDf(docs))
    val plan = Dedup.runMaintenance(docs, emb, hP, mP, pP, lP,
      cents, codebooks, cP, iP, qP, kP, fP).collect()
    plan.foreach(r => assert(r.getAs[String]("action") === "none",
      s"${r.getString(0)} still plans ${r.getAs[String]("action")}"))
    // the repaired/rebuilt stores committed a NEW version each
    Seq(hP, lP).foreach { p =>
      assert(Publish.current(spark, p).exists(_.n > 0),
        s"$p repaired without a new pointer commit")
    }
    def sorted(df: DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    assert(sorted(Publish.readLive(spark, hP).select(col("h"), col("doc_id"))) ===
      sorted(healthyH.select(col("h"), col("doc_id"))))
    val fresh = root.resolve("fresh").toString
    Ivf.writeIvfPartitioned(emb, cents, fresh)
    def layoutRows(p: String): Seq[String] = sorted(Publish.readLive(spark, p)
      .select(col("vec_id"), col("nrm"), col("list_id").cast("int")))
    assert(layoutRows(lP) === layoutRows(fresh))
    val queries = emb.orderBy("vec_id").limit(3)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_emb"))
    assert(sorted(Ivf.ivfSearchPartitioned(spark, lP, queries, cents, k = 5)) ===
      sorted(Ivf.ivfSearchPartitioned(spark, fresh, queries, cents, k = 5)))
  }
}

package graft.ops

import graft.SparkSuite
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Drills for the delta-directory append/fold machinery beyond the
  * racing-append interleaves StreamingSpec covers: token idempotence
  * ACROSS a fold (the retired-token registry), crash recovery of the
  * fold's child retirement (the committed `_graft_folded` sidecar), and
  * the recursive fragment count on hive-partitioned stores.
  */
class StoreIOSpec extends SparkSuite {

  private def fs = new Path("/tmp").getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  private val Ddl = "id BIGINT, v STRING"

  private def freshStore(): (String, DataFrame) = {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("storeio")
      .resolve("store").toString
    val live = (1L to 6L).map(i => (i, s"live $i")).toDF("id", "v")
    Publish.publish(spark, path, live)
    (path, live)
  }

  private def batch(ids: Range): DataFrame = {
    import spark.implicits._
    ids.map(i => (i.toLong, s"batch $i")).toDF("id", "v")
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("a replayed append token is exactly-once even across a fold: the retired registry makes the replay a no-op") {
    val (path, live) = freshStore()
    val b = batch(100 to 104)
    StoreIO.append(b, path, token = "batch-7")
    val expected = rows(live.unionByName(b))
    assert(rows(StoreIO.read(spark, path, Some(Ddl))) === expected)
    // a fold moves the child's rows into the live store
    StoreIO.rewrite(spark, path, identity, Some(Ddl))
    assert(StoreIO.deltaChildren(spark, path).isEmpty)
    assert(rows(StoreIO.read(spark, path, Some(Ddl))) === expected)
    // the at-least-once replay AFTER the fold: without the registry this
    // recreates the child and the batch's rows exist twice in live ∪ delta
    StoreIO.append(b, path, token = "batch-7")
    assert(StoreIO.deltaChildren(spark, path).isEmpty, "replay resurrected a folded child")
    assert(rows(StoreIO.read(spark, path, Some(Ddl))) === expected)
    // a NEW token still appends normally
    val b2 = batch(200 to 201)
    StoreIO.append(b2, path, token = "batch-8")
    assert(rows(StoreIO.read(spark, path, Some(Ddl))) ===
      rows(live.unionByName(b).unionByName(b2)))
  }

  test("a same-call retry (child still standing) overwrites its own child — no duplication, no registry needed") {
    val (path, live) = freshStore()
    val b = batch(300 to 303)
    StoreIO.append(b, path, token = "t1")
    StoreIO.append(b, path, token = "t1")
    assert(StoreIO.deltaChildren(spark, path).size === 1)
    assert(rows(StoreIO.read(spark, path, Some(Ddl))) === rows(live.unionByName(b)))
  }

  test("crash between a fold's promote and its child retirement: the promoted sidecar settles it — rows never persist twice") {
    val (path, live) = freshStore()
    val b = batch(400 to 404)
    StoreIO.append(b, path, token = "batch-9")
    val snap = StoreIO.snapshot(spark, path, Some(Ddl))
    val folded = snap.frame.localCheckpoint()
    val names = snap.children.map(c => new Path(c).getName)
    // drive the publish to the exact crash point publishMerged is
    // exposed to: commit done, child retirement not run
    intercept[RuntimeException] {
      Publish.publishImpl(spark, path, folded, Nil,
        crashAfter = Publish.AfterCommit,
        sidecar = Some(StoreIO.FoldedSidecar -> names.mkString("\n")))
    }
    // the crash state: folded rows in live AND still in the delta child
    assert(fs.exists(new Path(Publish.liveDir(spark, path), StoreIO.FoldedSidecar)))
    assert(StoreIO.deltaChildren(spark, path).nonEmpty)
    // any snapshot (or the maintenance pre-pass' recoverFolds) settles it
    val settled = StoreIO.snapshot(spark, path, Some(Ddl))
    assert(settled.children.isEmpty)
    assert(rows(settled.frame) === rows(live.unionByName(b)))
    assert(!fs.exists(new Path(Publish.liveDir(spark, path), StoreIO.FoldedSidecar)))
    // and the folded token stays exactly-once under replay
    StoreIO.append(b, path, token = "batch-9")
    assert(rows(StoreIO.read(spark, path, Some(Ddl))) === rows(live.unionByName(b)))
  }

  test("publishMerged retires exactly the snapshotted children and leaves no sidecar behind") {
    val (path, live) = freshStore()
    StoreIO.append(batch(500 to 501), path, token = "a")
    val snap = StoreIO.snapshot(spark, path, Some(Ddl))
    // an append racing the fold: lands after the snapshot listing
    StoreIO.append(batch(600 to 601), path, token = "b")
    StoreIO.publishMerged(spark, path, snap.frame.localCheckpoint(), snap)
    val children = StoreIO.deltaChildren(spark, path)
    assert(children.map(c => new Path(c).getName) === Seq("d-b"))
    assert(!fs.exists(new Path(Publish.liveDir(spark, path), StoreIO.FoldedSidecar)))
    assert(rows(StoreIO.read(spark, path, Some(Ddl))) ===
      rows(live.unionByName(batch(500 to 501)).unionByName(batch(600 to 601))))
  }

  test("fragmentCount counts leaf files recursively: hive-partitioned live stores meter their real listing cost") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("storeio_hive")
      .resolve("store").toString
    Publish.publish(spark, path, (1L to 9L).map(i => (i, i % 3))
      .toDF("id", "batch").repartition(3), Seq("batch"))
    // every part file lives under a batch=N subdirectory: a top-level
    // listing sees zero leaves, the recursive count sees them all
    assert(fs.listStatus(new Path(Publish.liveDir(spark, path)))
      .count(_.getPath.getName.endsWith(".parquet")) === 0)
    assert(StoreIO.fragmentCount(spark, path) >= 3)
    // the retired-token registry contributes nothing to the count
    StoreIO.append((10L to 12L).map(i => (i, i % 3)).toDF("id", "batch"),
      path, token = "r")
    val before = StoreIO.fragmentCount(spark, path)
    val snap = StoreIO.snapshot(spark, path, Some("id BIGINT, batch BIGINT"))
    StoreIO.publishMerged(spark, path,
      snap.frame.repartition(1).localCheckpoint(), snap)
    assert(StoreIO.fragmentCount(spark, path) < before)
  }
}

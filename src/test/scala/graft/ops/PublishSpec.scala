package graft.ops

import graft.SparkSuite
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The one store-publish protocol ([[Publish]]: version dir + pointer
  * commit) beyond the fixed kill drill in PointerStoreSpec: self-settling
  * publishes, the `missing` outcome, hive layouts across a crash, deletes
  * the filesystem refuses, and a seeded randomised crash drill over
  * publish/append/fold sequences checked against a set-arithmetic model.
  */
class PublishSpec extends SparkSuite {

  private def fs = new Path("/tmp").getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  private def tmpRoot(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).resolve("store").toString

  private def frame(ids: Seq[Long], tag: String): DataFrame = {
    import spark.implicits._
    ids.map(i => (i, s"$tag $i")).toDF("id", "v")
  }

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def entries(root: String): Seq[String] =
    fs.listStatus(new Path(root)).map(_.getPath.getName).toSeq

  test("publish: happy path swaps the store and leaves no scratch state") {
    val root = tmpRoot("pub")
    Publish.publish(spark, root, frame(1L to 10L, "old"))
    Publish.publish(spark, root, frame(1L to 12L, "new"))
    assert(rowsOf(Publish.readLive(spark, root)) ===
      rowsOf(frame(1L to 12L, "new")))
    assert(entries(root).sorted === Seq("_ptr-00000001", "_v-00000001"))
    assert(Publish.recover(spark, root) === "none")
  }

  test("publish after an UNRECOVERED crash settles the leftovers itself") {
    for (step <- Seq(Publish.AfterSpark, Publish.AfterStage,
        Publish.AfterCommit)) {
      val root = tmpRoot("pub_unrecovered")
      Publish.publish(spark, root, frame(1L to 10L, "old"))
      intercept[RuntimeException] {
        Publish.publishImpl(spark, root, frame(1L to 5L, "crashed"), Nil,
          crashAfter = step)
      }
      // no manual recover: the next publish settles, then commits
      Publish.publish(spark, root, frame(1L to 12L, "new"))
      assert(rowsOf(Publish.readLive(spark, root)) ===
        rowsOf(frame(1L to 12L, "new")), s"step $step")
      assert(entries(root).count(_.startsWith("_v-")) === 1, s"step $step")
      assert(entries(root).count(_.startsWith("_ptr-")) === 1, s"step $step")
    }
  }

  test("recover on a genuinely missing store reports missing and touches nothing") {
    val root = tmpRoot("pub_missing")
    assert(Publish.recover(spark, root) === "missing")
    assert(!fs.exists(new Path(root)))
    assert(Publish.resolveLive(spark, root).isEmpty)
    // a first-ever publish that crashed before its commit is still missing
    intercept[RuntimeException] {
      Publish.publishImpl(spark, root, frame(1L to 3L, "torn"), Nil,
        crashAfter = Publish.AfterStage)
    }
    assert(Publish.recover(spark, root) === "missing")
    assert(entries(root).isEmpty)
    intercept[java.io.FileNotFoundException] { Publish.readLive(spark, root) }
  }

  test("hive-partitioned publish: crash and recovery preserve the partition layout") {
    import spark.implicits._
    val root = tmpRoot("pub_part")
    val oldF = (1L to 9L).map(i => (i, i % 3)).toDF("id", "batch")
    val newF = (1L to 9L).map(i => (i, i % 2)).toDF("id", "batch")
    Publish.publish(spark, root, oldF, Seq("batch"))
    intercept[RuntimeException] {
      Publish.publishImpl(spark, root, newF, Seq("batch"),
        crashAfter = Publish.AfterCommit)
    }
    assert(Publish.recover(spark, root) === "cleared")
    def typed(df: DataFrame) = rowsOf(df.select(col("id"), col("batch").cast("long")))
    assert(typed(Publish.readLive(spark, root)) === typed(newF))
    // the partition dirs survived the commit
    assert(fs.listStatus(new Path(Publish.liveDir(spark, root)))
      .exists(_.getPath.getName.startsWith("batch=")))
  }

  test("a delete the filesystem refuses fails loudly: GC and fold retirement keep their records") {
    spark.sparkContext.hadoopConfiguration.set(
      s"fs.${PublishSpec.RefusingScheme}.impl",
      classOf[PublishSpec.RefusingDeleteFs].getName)
    // same directory, seen through a filesystem whose delete returns false
    def refusing(p: String): String =
      s"${PublishSpec.RefusingScheme}://" + new Path(p).toUri.getPath
    val root = tmpRoot("pub_refuse")
    Publish.publish(spark, root, frame(1L to 4L, "v0"))
    intercept[RuntimeException] {
      Publish.publishImpl(spark, root, frame(1L to 4L, "v1"), Nil,
        crashAfter = Publish.AfterCommit)
    }
    // GC must not report a superseded version as collected
    intercept[java.io.IOException] { Publish.recover(spark, refusing(root)) }
    assert(entries(root).count(_.startsWith("_v-")) === 2)
    assert(Publish.recover(spark, root) === "cleared")

    // a fold that committed but has not retired its child: with the
    // child delete refused, the sidecar must survive as the retry record
    val Ddl = "id BIGINT, v STRING"
    StoreIO.append(frame(100L to 102L, "b"), root, token = "t1")
    val snap = StoreIO.snapshot(spark, root, Some(Ddl))
    intercept[RuntimeException] {
      Publish.publishImpl(spark, root, snap.frame.localCheckpoint(), Nil,
        crashAfter = Publish.AfterCommit,
        sidecar = Some(StoreIO.FoldedSidecar -> "d-t1"))
    }
    Publish.recover(spark, root)
    intercept[java.io.IOException] {
      StoreIO.recoverFolds(spark, refusing(root))
    }
    assert(fs.exists(new Path(Publish.liveDir(spark, root),
      StoreIO.FoldedSidecar)), "sidecar dropped while the child survived")
    assert(StoreIO.deltaChildren(spark, root).nonEmpty)
    // the retry on a healthy filesystem settles it: rows exactly once
    StoreIO.recoverFolds(spark, root)
    assert(StoreIO.deltaChildren(spark, root).isEmpty)
    assert(rowsOf(StoreIO.read(spark, root, Some(Ddl))) ===
      rowsOf(frame(1L to 4L, "v1").unionByName(frame(100L to 102L, "b"))))
  }

  test("randomised crash drill: publish/append/fold sequences with an injected crash settle to the set model, never a torn store") {
    import PublishSpec._
    val Ddl = "id BIGINT, v STRING"
    val seed = sys.env.get("GRAFT_CRASH_DRILL_SEED").map(_.toLong)
      .getOrElse(20261017L)
    val step = Gen.oneOf(Publish.AfterSpark, Publish.AfterStage,
      Publish.AfterCommit)
    val op: Gen[Op] = Gen.frequency(
      3 -> Gen.choose(0, 3).map(t => Append(s"t$t")),
      2 -> Gen.const(Fold),
      1 -> Gen.const(Replace),
      1 -> step.map(CrashReplace(_)),
      1 -> step.map(CrashFold(_)))
    val program = Gen.choose(3, 6).flatMap(Gen.listOfN(_, op))
    val cases = Iterator.iterate(Seed(seed))(_.next).take(6)
    cases.zipWithIndex.foreach { case (s, k) =>
      val ops = program.apply(Gen.Parameters.default, s).get
      withClue(s"[crash drill seed=$seed case=$k ops=$ops] ") {
        val root = tmpRoot(s"crash_drill_$k")
        // the model: live rows, delta children by token, retired tokens
        var live: Seq[String] = Nil
        var delta = Map.empty[String, Seq[String]]
        var retired = Set.empty[String]
        var gen = 0
        def rowsFor(tag: String): DataFrame =
          frame((1L to 3L).map(_ + 10L * gen), tag)
        def model: Seq[String] = (live ++ delta.values.flatten).sorted
        def liveRows: Seq[String] = Publish.resolveLive(spark, root)
          .fold(Seq.empty[String])(d => rowsOf(spark.read.parquet(d)))
        Publish.publish(spark, root, frame(Seq(0L), "seed"))
        live = rowsOf(frame(Seq(0L), "seed"))
        ops.foreach { o =>
          gen += 1
          o match {
            case Append(t) =>
              val f = rowsFor(t)
              StoreIO.append(f, root, token = t)
              // a replayed token overwrites its own child; a retired one no-ops
              if (!retired(t)) delta += t -> rowsOf(f)
            case Fold =>
              StoreIO.rewrite(spark, root, identity, Some(Ddl))
              live = model; retired ++= delta.keys; delta = Map.empty
            case Replace =>
              val f = rowsFor("replace")
              Publish.publish(spark, root, f)
              live = rowsOf(f)
            case CrashReplace(at) =>
              val f = rowsFor("crashed")
              intercept[RuntimeException] {
                Publish.publishImpl(spark, root, f, Nil, crashAfter = at)
              }
              if (at == Publish.AfterCommit) live = rowsOf(f)
              assert(liveRows === live, s"resolver torn after $o")
              Publish.recover(spark, root)
            case CrashFold(at) =>
              val snap = StoreIO.snapshot(spark, root, Some(Ddl))
              val names = snap.children.map(c => new Path(c).getName)
              intercept[RuntimeException] {
                Publish.publishImpl(spark, root, snap.frame.localCheckpoint(),
                  Nil, crashAfter = at,
                  sidecar = Some(StoreIO.FoldedSidecar -> names.mkString("\n")))
              }
              if (at == Publish.AfterCommit) live = model
              assert(liveRows === live, s"resolver torn after $o")
              Publish.recover(spark, root)
              StoreIO.recoverFolds(spark, root)
              if (at == Publish.AfterCommit) {
                retired ++= delta.keys; delta = Map.empty
              }
          }
          assert(rowsOf(StoreIO.read(spark, root, Some(Ddl))) === model,
            s"live ∪ delta diverged from the model after $o")
        }
        assert(Publish.recover(spark, root) === "none")
      }
    }
  }
}

object PublishSpec {
  sealed trait Op
  final case class Append(token: String) extends Op
  case object Fold extends Op
  case object Replace extends Op
  final case class CrashReplace(step: Int) extends Op
  final case class CrashFold(step: Int) extends Op

  val RefusingScheme = "refusedelete"

  /** The local filesystem under its own scheme, with a `delete` that
    * reports failure by returning false — the HDFS/S3A contract the
    * protocol must never ignore.
    */
  final class RefusingDeleteFs extends RawLocalFileSystem {
    override def getUri: java.net.URI =
      java.net.URI.create(s"$RefusingScheme:///")
    override def getScheme: String = RefusingScheme
    override def delete(p: Path, recursive: Boolean): Boolean = false
  }
}

package graft.ops

import graft.SparkSuite
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.col

/** The rewrite-vs-rewrite drills: two maintenance writers interleaving
  * on the same stores must resolve to ONE serial order, with the loser
  * failing loudly — never a silent lost update. Covers the raw lease
  * mechanics (exclusivity, thread reentrancy, stale break with a
  * single winner, own-claim-only release) and the wired spans
  * (StoreIO.rewrite seam, two interleaved storeRepair calls via the
  * interleave hook).
  */
class LeaseSpec extends SparkSuite {

  private def fs = new Path("/tmp").getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  private def tmp(prefix: String): String =
    tempDir(prefix).resolve("store").toString

  private def claims(path: String): Seq[Path] = {
    val d = new Path(Lease.leaseDirOf(path))
    if (!fs.exists(d)) Nil
    else fs.listStatus(d).map(_.getPath).toSeq
  }

  test("lease mechanics: exclusive across threads, reentrant within one, released on exit and on failure") {
    val path = tmp("lease")
    // reentrancy: nested spans on one thread share the hold
    Lease.withLeases(spark, Seq(path)) {
      Lease.withLeases(spark, Seq(path)) {
        assert(claims(path).size === 1)
      }
      // inner exit must NOT release the outer hold
      assert(claims(path).size === 1)
      // a second THREAD is a second writer: fails loudly
      var otherThread: Option[Throwable] = None
      val t = new Thread(() =>
        try Lease.withLeases(spark, Seq(path)) { fail("second writer got the lease") }
        catch { case e: Throwable => otherThread = Some(e) })
      t.start(); t.join()
      assert(otherThread.exists(_.isInstanceOf[Lease.ConcurrentWriter]))
      // the loser's claim was self-deleted, never this span's
      assert(claims(path).size === 1)
    }
    assert(claims(path).isEmpty, "lease not released")
    // a failing body still releases (try/finally)
    intercept[RuntimeException] {
      Lease.withLeases(spark, Seq(path)) { throw new RuntimeException("boom") }
    }
    assert(claims(path).isEmpty)
    // tryWithLeases: None when held elsewhere, Some when free
    Lease.withLeases(spark, Seq(path)) {
      var res: Option[Option[Int]] = None
      val t2 = new Thread(() => res = Some(
        Lease.tryWithLeases(spark, Seq(path))(42)))
      t2.start(); t2.join()
      assert(res === Some(None))
    }
    assert(Lease.tryWithLeases(spark, Seq(path))(42) === Some(42))
  }

  test("a stale claim (crashed holder) is ignored and collected after the TTL; a fresh one is not") {
    val path = tmp("lease_stale")
    val dir = new Path(Lease.leaseDirOf(path))
    fs.mkdirs(dir)
    val crashed = new Path(dir, "claim-crashed-holder")
    fs.createNewFile(crashed)
    // fresh foreign claim: acquisition fails and leaves it alone
    intercept[Lease.ConcurrentWriter] {
      Lease.withLeases(spark, Seq(path)) { () }
    }
    assert(fs.exists(crashed))
    // age it past the TTL: the acquirer wins past it and GCs it
    fs.setTimes(crashed, System.currentTimeMillis() - 60L * 60L * 1000L, -1)
    Lease.withLeases(spark, Seq(path), ttlMs = 30L * 60L * 1000L) {
      assert(claims(path).size === 1, "stale claim not collected")
      assert(!fs.exists(crashed))
    }
    assert(claims(path).isEmpty)
  }

  test("breaking a stale lease is single-winner: concurrent breakers never co-hold") {
    val path = tmp("lease_break_race")
    val dir = new Path(Lease.leaseDirOf(path))
    val inside = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxInside = new java.util.concurrent.atomic.AtomicInteger(0)
    for (i <- 1 to 5) {
      fs.mkdirs(dir)
      val crashed = new Path(dir, s"claim-crashed-$i")
      fs.createNewFile(crashed)
      fs.setTimes(crashed, System.currentTimeMillis() - 60L * 60L * 1000L, -1)
      val gate = new java.util.concurrent.CountDownLatch(1)
      val threads = (1 to 2).map { _ =>
        new Thread(() => {
          gate.await()
          try Lease.withLeases(spark, Seq(path)) {
            val now = inside.incrementAndGet()
            maxInside.getAndUpdate(m => math.max(m, now))
            Thread.sleep(30)
            inside.decrementAndGet()
          } catch { case _: Lease.ConcurrentWriter => () }
        })
      }
      threads.foreach(_.start()); gate.countDown(); threads.foreach(_.join())
      claims(path).foreach(fs.delete(_, false))
    }
    // the invariant the unique-claim design exists for: at MOST one
    // holder at any instant. (Zero holders in a round is legitimate —
    // equal-mtime claims mutually abort rather than risk a co-hold;
    // fail-loudly is the contract, retry is the caller's policy.)
    assert(maxInside.get() === 1,
      s"${maxInside.get()} writers co-held a broken lease")
  }

  test("release deletes only its own claim: a usurped span cannot unlock the usurper") {
    val path = tmp("lease_usurp")
    val dir = new Path(Lease.leaseDirOf(path))
    val foreign = new Path(dir, "claim-usurper-after-ttl-break")
    Lease.withLeases(spark, Seq(path)) {
      // fabricate a TTL usurpation: another actor's claim appears while
      // this span is still running
      fs.createNewFile(foreign)
    }
    // this thread's release removed its own claim and left the foreign one
    assert(fs.exists(foreign), "release deleted a claim it did not own")
    assert(claims(path).map(_.getName) === Seq("claim-usurper-after-ttl-break"))
    fs.delete(foreign, false)
  }

  test("publish-seam fence: a span usurped after its TTL aborts its publish instead of overwriting the usurper") {
    import spark.implicits._
    val path = tmp("lease_fence")
    val Ddl = "id BIGINT, v STRING"
    Publish.publish(spark, path, (1L to 4L).map(i => (i, "orig")).toDF("id", "v"))
    val fenced = intercept[Lease.ConcurrentWriter] {
      StoreIO.rewrite(spark, path, { df =>
        // simulate a TTL usurpation mid-span: the usurper's acquire
        // GCs this span's (stale-looking) claim and installs its own
        claims(path).foreach(fs.delete(_, false))
        fs.createNewFile(new Path(Lease.leaseDirOf(path), "claim-usurper"))
        df.withColumn("v", org.apache.spark.sql.functions.lit("mine"))
      }, Some(Ddl))
    }
    assert(fenced.getMessage.contains("broken after its TTL"))
    // the fence fired BEFORE anything moved: the store is untouched
    claims(path).foreach(fs.delete(_, false))
    val vs = StoreIO.read(spark, path, Some(Ddl))
      .select(col("v")).distinct().collect().map(_.getString(0)).toSeq
    assert(vs === Seq("orig"), s"fenced publish still mutated the store: $vs")
  }

  test("two interleaved store rewrites: the second writer fails loudly, post-state equals the first serial order") {
    import spark.implicits._
    val path = tmp("lease_rw")
    val Ddl = "id BIGINT, v STRING"
    Publish.publish(spark, path,
      (1L to 6L).map(i => (i, s"live $i")).toDF("id", "v"))
    // writer A's transform callback is the interleave seam: while A is
    // mid-span (snapshot taken, publish pending), writer B attempts the
    // same rewrite on another thread
    var bFailure: Option[Throwable] = None
    StoreIO.rewrite(spark, path, { df =>
      val b = new Thread(() =>
        try StoreIO.rewrite(spark, path,
          _.withColumn("v", org.apache.spark.sql.functions.lit("B")),
          Some(Ddl))
        catch { case e: Throwable => bFailure = Some(e) })
      b.start(); b.join()
      df.withColumn("v", org.apache.spark.sql.functions.lit("A"))
    }, Some(Ddl))
    assert(bFailure.exists(_.isInstanceOf[Lease.ConcurrentWriter]),
      s"writer B should have failed loudly, got $bFailure")
    val vs = StoreIO.read(spark, path, Some(Ddl))
      .select(col("v")).distinct().collect().map(_.getString(0)).toSeq
    assert(vs === Seq("A"), "post-state must equal the serial order A alone")
    // after A releases, B's retry succeeds — the serial order "A then B"
    StoreIO.rewrite(spark, path,
      _.withColumn("v", org.apache.spark.sql.functions.lit("B")), Some(Ddl))
    assert(StoreIO.read(spark, path, Some(Ddl))
      .select(col("v")).distinct().collect().map(_.getString(0)).toSeq === Seq("B"))
  }

  test("two interleaved storeRepair calls: one serial order, loser loud, repair result intact") {
    import graft.ext.{Dedup, Packing}
    import org.apache.spark.sql.functions.md5
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .localCheckpoint()
    val root = tempDir("lease_repair")
    val (hP, mP, pP) = (root.resolve("hashes").toString,
      root.resolve("manifest").toString, root.resolve("pairs").toString)
    val healthyH = docs.select(md5(col("text").cast("binary")).as("h"),
      col("doc_id"), (col("doc_id") % 3).as("batch"))
    // seed a replay duplicate so the repair has real work
    Publish.publish(spark, hP, healthyH.unionByName(healthyH.limit(1)),
      Seq("batch"))
    Publish.publish(spark, mP, Packing.packSequences(docs))
    Dedup.pairsArtifactInit(docs, pP)
    var bFailure: Option[Throwable] = None
    Dedup.storeRepairImpl(spark, hP, mP, pP, interleave = () => {
      val b = new Thread(() =>
        try Dedup.storeRepair(spark, hP, mP, pP)
        catch { case e: Throwable => bFailure = Some(e) })
      b.start(); b.join()
    })
    assert(bFailure.exists(_.isInstanceOf[Lease.ConcurrentWriter]),
      s"concurrent repair should fail loudly, got $bFailure")
    // the surviving serial order: repaired store, no duplicate left
    val dups = Publish.readLive(spark, hP).groupBy(col("doc_id"))
      .count().filter(col("count") > 1).count()
    assert(dups === 0L)
    // and a later repair (the loser's retry) runs clean
    val again = Dedup.storeRepair(spark, hP, mP, pP).head()
    assert(again.getAs[Long]("n_hash_dups_removed") === 0L)
  }

  test("staleness is judged by the holder's own TTL, never the breaker's: a short-TTL acquirer cannot usurp a live long-TTL holder") {
    val path = tmp("lease_own_ttl")
    Lease.withLeases(spark, Seq(path)) { // default (long) TTL
      Thread.sleep(20) // the holder's claim is older than the breaker's ttlMs
      var res: Option[Throwable] = None
      val t = new Thread(() =>
        try Lease.withLeases(spark, Seq(path), ttlMs = 1L) {
          fail("short-TTL breaker usurped a live holder")
        } catch { case e: Throwable => res = Some(e) })
      t.start(); t.join()
      assert(res.exists(_.isInstanceOf[Lease.ConcurrentWriter]),
        s"expected ConcurrentWriter, got $res")
      // the live holder's claim survived the attempt
      assert(claims(path).count(_.getName.startsWith("claim-")) === 1)
    }
    assert(claims(path).isEmpty)
  }

  test("heartbeat renewal extends a hold past its own TTL; an unrenewed one is eventually usurped and the fence fires") {
    val path = tmp("lease_renew")
    val ttl = 1000L
    Lease.withLeases(spark, Seq(path), ttlMs = ttl) {
      Thread.sleep(600)
      Lease.renew(spark, path) // claim mtime stays put; heartbeat at t=600
      Thread.sleep(650) // claim age 1250 > ttl, heartbeat age 650 < ttl
      var res: Option[Throwable] = None
      val t = new Thread(() =>
        try Lease.withLeases(spark, Seq(path), ttlMs = ttl) {
          fail("renewed holder was usurped")
        } catch { case e: Throwable => res = Some(e) })
      t.start(); t.join()
      assert(res.exists(_.isInstanceOf[Lease.ConcurrentWriter]),
        s"renewal did not extend the hold: $res")
      // stop renewing: once the heartbeat too is past the TTL, a
      // contender wins (the usurpation the publish fence exists for)
      Thread.sleep(1100)
      var won = false
      val t2 = new Thread(() =>
        Lease.tryWithLeases(spark, Seq(path), ttlMs = ttl)(()) match {
          case Some(_) => won = true
          case None => ()
        })
      t2.start(); t2.join()
      assert(won, "expired heartbeat still blocked a contender")
      // the usurped span now fails loudly at its publish seam
      intercept[Lease.ConcurrentWriter] { Lease.checkHeld(spark, path) }
    }
  }

  test("a TTL break landing during the staging write aborts at the in-publish fence with the live store intact") {
    import spark.implicits._
    val path = tmp("lease_pub_fence")
    Publish.publish(spark, path, (1L to 4L).map(i => (i, "orig")).toDF("id", "v"))
    Lease.withLeases(spark, Seq(path)) {
      // the break lands while Publish stages (the span's long pole):
      // equivalently, the claim is gone by the time staging completes
      claims(path).filter(_.getName.startsWith("claim-"))
        .foreach(fs.delete(_, false))
      intercept[Lease.ConcurrentWriter] {
        Publish.publish(spark, path,
          (1L to 4L).map(i => (i, "usurped-span")).toDF("id", "v"))
      }
    }
    // live store untouched; the unreferenced version is recoverable garbage
    assert(Publish.recover(spark, path) === "cleared")
    val vs = Publish.readLive(spark, path).select(col("v")).distinct()
      .collect().map(_.getString(0)).toSeq
    assert(vs === Seq("orig"))
  }

  test("pointer-mode fence: a usurped span aborts before the commit PUT; the committed version stands") {
    import spark.implicits._
    val root = tmp("lease_ptr_fence")
    Lease.withLeases(spark, Seq(root)) {
      Publish.publish(spark, root,
        (1L to 3L).map(i => (i, "v0")).toDF("id", "v"))
      val v0 = Publish.resolveLive(spark, root).get
      // the break lands during the second publish's staging
      claims(root).filter(_.getName.startsWith("claim-"))
        .foreach(fs.delete(_, false))
      intercept[Lease.ConcurrentWriter] {
        Publish.publish(spark, root,
          (1L to 3L).map(i => (i, "usurped")).toDF("id", "v"))
      }
      // the commit PUT never happened: still v0, and recover drops the
      // unreferenced staging
      assert(Publish.resolveLive(spark, root) === Some(v0))
      Publish.recover(spark, root)
      assert(spark.read.parquet(v0).select(col("v")).distinct()
        .collect().map(_.getString(0)).toSeq === Seq("v0"))
    }
  }
}

package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Single-writer MAINTENANCE LEASE — the rewrite-vs-rewrite
  * serialization [[StoreIO]]'s contract used to delegate to "one
  * maintenance actor" by assumption. Two concurrent rewriters of the
  * same store each snapshot, derive, and publish: the later publish
  * silently discards the earlier one's changes (lost update). The
  * lease makes the assumption mechanical: a rewrite span acquires an
  * exclusive per-store lease BEFORE its snapshot and releases it after
  * its publish, so a second writer FAILS LOUDLY
  * ([[Lease.ConcurrentWriter]]) instead of silently losing work —
  * there is no blocking/queueing (nothing to deadlock), retry is the
  * caller's policy.
  *
  * Mechanics — ORDERED CLAIM FILES, never a mutated shared path. A
  * single lock file needs delete-or-rename to break a stale holder,
  * and any mutation of a shared path races: between "stat says stale"
  * and the delete/rename, a fresh lock can replace the stale one and
  * the breaker destroys a LIVE writer's lock (measured, not
  * hypothetical — the drill below caught exactly that). Instead:
  *
  *   - acquiring writes one UNIQUE claim file under `store__lease/`
  *     (`claim-<holder>-<uuid>-ttl<ms>`, created with the filesystem's
  *     atomic create-if-absent; the object-store analog is a
  *     conditional PUT). Nobody ever renames, overwrites, or deletes
  *     another writer's LIVE claim — every mutation touches only names
  *     the mutator owns or names proven dead;
  *   - the winner is the ALIVE claim with the smallest modification
  *     time. A claim created later can never sort earlier (filesystem
  *     mtimes are non-decreasing), so the decision is stable without
  *     coordination. EQUAL mtimes (same clock tick) are treated as a
  *     conflict by BOTH sides — mutual abort, never a co-hold;
  *   - STALENESS IS JUDGED BY THE HOLDER'S OWN TTL, which rides the
  *     claim NAME (`-ttl<ms>`; claims without the suffix — older
  *     formats, hand-made drill claims — default to [[DefaultTtlMs]]).
  *     A caller passing a short ttlMs shortens only its OWN claim's
  *     lifetime, never a live holder's: the pre-r17 form judged every
  *     claim by the ACQUIRER's ttlMs, so a short-TTL acquirer could
  *     usurp a live long-TTL holder well before that holder's own
  *     deadline;
  *   - a holder RENEWS by touching a heartbeat file (`hb-<claim>`,
  *     [[renew]]): liveness is `max(claim mtime, heartbeat mtime)`,
  *     while the winner ORDER stays the immutable claim mtime — a
  *     renewal can extend a hold but never re-rank it (mutating the
  *     claim's own mtime would demote the holder behind a contender
  *     that arrived mid-renewal). Spans expected to outlive their TTL
  *     (a 100 TB rewrite) renew at checkpoints; [[Publish]] renews
  *     once before its staging write, so a span is freshest exactly
  *     when it starts its longest step;
  *   - a loser deletes its own claim and throws; release deletes only
  *     the caller's own uniquely-named claim, so a usurped or raced
  *     span can never unlock someone else's;
  *   - a crashed holder's claim goes stale after ITS TTL and is
  *     ignored by the winner rule (and garbage-collected — claim and
  *     heartbeat together — by later acquirers; safe, names are never
  *     reused). A live holder that outlives its TTL without renewing
  *     can still be usurped, but the publish seam FENCES the outcome —
  *     [[checkHeld]] runs at span entry (fast fail), and [[Publish]]
  *     re-checks INSIDE the publish after staging completes and
  *     immediately before the pointer commit, so a usurped span leaves
  *     only an unreferenced version that recovery drops. The residual
  *     window is a break landing between the final check and the
  *     pointer create itself — milliseconds, closable only by a
  *     conditional-create primitive plain filesystems lack;
  *   - REENTRANT PER THREAD: a composed operator (runMaintenance →
  *     storeRepair → fold) re-enters the leases it already holds, so
  *     spans nest without self-deadlock; a different thread — same JVM
  *     or not — is a different writer and fails;
  *   - multi-store spans acquire in SORTED path order; combined with
  *     fail-fast (never wait), two actors can never deadlock — the
  *     loser of any single acquisition aborts and releases.
  *
  * What is NOT leased: plain appends (the delta-directory discipline
  * makes them safe against any rewrite — that is its whole point) and
  * reads. Opportunistic folds (an appender's file-count compaction
  * trigger) use [[tryWithLeases]] — skipping hygiene while a
  * maintenance actor holds the store is always safe.
  */
object Lease {

  final class ConcurrentWriter(msg: String) extends IllegalStateException(msg)

  /** Default break-stale TTL: generous against the longest observed
    * store rewrite; crash recovery (not lease expiry) is what protects
    * the data itself. Spans that may exceed it renew ([[renew]])
    * instead of raising it fleet-wide.
    */
  val DefaultTtlMs: Long = 30L * 60L * 1000L

  private[graft] def leaseDirOf(path: String): String =
    path.stripSuffix("/") + "__lease"

  private val TtlSuffix = "-ttl(\\d+)$".r
  private val HbPrefix = "hb-"

  /** The TTL a claim was acquired with, from its own name; claims
    * without the suffix default to [[DefaultTtlMs]].
    */
  private def ttlOf(claimName: String): Long =
    TtlSuffix.findFirstMatchIn(claimName).map(_.group(1).toLong)
      .getOrElse(DefaultTtlMs)

  // thread-reentrant holds: lease dir -> (nesting count, own claim name)
  private val held =
    new ThreadLocal[scala.collection.mutable.Map[String, (Int, String)]] {
      override def initialValue() = scala.collection.mutable.Map.empty
    }

  private def fsOf(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def holderId: String =
    (s"${java.lang.management.ManagementFactory.getRuntimeMXBean.getName}-" +
      s"t${Thread.currentThread().getId}").replaceAll("[^A-Za-z0-9.-]", "_")

  /** Runs `body` holding exclusive leases on every path (sorted order,
    * released in reverse). Throws [[ConcurrentWriter]] — having
    * acquired nothing net — when any store is already leased by
    * another writer. `ttlMs` bounds THIS span's claim (it rides the
    * claim name); other holders are judged by their own TTLs.
    */
  def withLeases[T](spark: SparkSession, paths: Seq[String],
      ttlMs: Long = DefaultTtlMs)(body: => T): T = {
    val sorted = paths.distinct.sorted
    val acquired = scala.collection.mutable.ListBuffer.empty[String]
    try {
      sorted.foreach { p => acquire(spark, p, ttlMs); acquired += p }
      body
    } finally acquired.reverse.foreach(release(spark, _))
  }

  /** [[withLeases]] that returns None instead of throwing when another
    * writer holds any of the stores — the opportunistic-fold form.
    */
  def tryWithLeases[T](spark: SparkSession, paths: Seq[String],
      ttlMs: Long = DefaultTtlMs)(body: => T): Option[T] =
    try Some(withLeases(spark, paths, ttlMs)(body))
    catch { case _: ConcurrentWriter => None }

  private def acquire(spark: SparkSession, path: String, ttlMs: Long): Unit = {
    val ld = leaseDirOf(path)
    val counts = held.get()
    counts.get(ld) match {
      case Some((n, claim)) => counts(ld) = (n + 1, claim); return
      case None => ()
    }
    val fs = fsOf(spark, path)
    val dir = new Path(ld)
    fs.mkdirs(dir)
    val myName =
      s"claim-$holderId-${java.util.UUID.randomUUID()}-ttl$ttlMs"
    val mine = new Path(dir, myName)
    if (!fs.createNewFile(mine))
      throw new ConcurrentWriter(s"Lease: claim collision at $mine")
    val now = System.currentTimeMillis()
    val entries = fs.listStatus(dir)
    val claimEntries = entries.filter(_.getPath.getName.startsWith("claim-"))
    // a claim's liveness extends to its newest heartbeat; its ORDER is
    // its own immutable mtime
    val hbMtime: Map[String, Long] = entries
      .filter(_.getPath.getName.startsWith(HbPrefix))
      .map(e => e.getPath.getName.stripPrefix(HbPrefix) -> e.getModificationTime)
      .toMap
    def liveness(e: org.apache.hadoop.fs.FileStatus): Long =
      math.max(e.getModificationTime,
        hbMtime.getOrElse(e.getPath.getName, Long.MinValue))
    def stale(e: org.apache.hadoop.fs.FileStatus): Boolean =
      now - liveness(e) > ttlOf(e.getPath.getName)
    // GC claims proven dead BY THEIR OWN TTL — unique names are never
    // reused, so a stale name can only ever be the crashed claim it
    // was; the heartbeat (if any) goes with it, and orphan heartbeats
    // whose claim is already gone are collectable garbage
    claimEntries.filter(e => e.getPath.getName != myName && stale(e))
      .foreach { e =>
        fs.delete(new Path(dir, HbPrefix + e.getPath.getName), false)
        fs.delete(e.getPath, false)
      }
    val claimNames = claimEntries.map(_.getPath.getName).toSet
    entries.filter { e =>
      val n = e.getPath.getName
      n.startsWith(HbPrefix) && !claimNames.contains(n.stripPrefix(HbPrefix))
    }.foreach(e => fs.delete(e.getPath, false))
    val mySt = claimEntries.find(_.getPath.getName == myName).getOrElse {
      fs.delete(mine, false)
      throw new ConcurrentWriter(s"Lease: claim at $mine not visible")
    }
    val conflict = claimEntries.exists { e =>
      e.getPath.getName != myName && !stale(e) &&
        e.getModificationTime <= mySt.getModificationTime
    }
    if (conflict) {
      fs.delete(mine, false)
      throw new ConcurrentWriter(
        s"Lease: $path is held by another maintenance writer ($ld); " +
          "two concurrent rewriters lose updates — retry after it releases")
    }
    counts(ld) = (1, myName)
  }

  /** HEARTBEAT renewal: touches this thread's heartbeat file for
    * `path`, extending the claim's liveness window by its TTL from
    * now. The claim file itself is never touched — the winner order
    * stays the original acquisition time, so a renewal can never
    * demote the holder behind a contender that arrived mid-span.
    * No-op for threads holding no lease on `path` (so the publish
    * seams can call it unconditionally).
    */
  def renew(spark: SparkSession, path: String): Unit = {
    val ld = leaseDirOf(path)
    held.get().get(ld).foreach { case (_, claim) =>
      Publish.writeSmallFile(fsOf(spark, path),
        new Path(ld, HbPrefix + claim), "")
    }
  }

  /** The claim name this thread holds on `path`, if any — the token
    * [[Publish]] records in its staging marker and pointer file.
    */
  private[ops] def heldClaim(path: String): Option[String] =
    held.get().get(leaseDirOf(path)).map(_._2)

  /** FENCE check, called at the store-publish seams
    * ([[StoreIO.publishMerged]], the maintenance publishers, and
    * INSIDE [[Publish.publishImpl]] after staging and immediately
    * before the pointer commit): throws
    * [[ConcurrentWriter]] when this thread's span was usurped — its
    * claim file is gone, which only a TTL break can cause (release
    * deletes a claim strictly after the hold count reaches zero, and
    * nobody else ever deletes a LIVE claim). A span that outlived its
    * TTL then fails loudly AT THE PUBLISH instead of silently
    * overwriting the usurper's work. No-op for threads that hold no
    * lease on `path`: unleased publishes (driver-entry scratch stores,
    * bootstrap writers) stay legal.
    */
  def checkHeld(spark: SparkSession, path: String): Unit = {
    val ld = leaseDirOf(path)
    held.get().get(ld).foreach { case (_, claim) =>
      if (!fsOf(spark, path).exists(new Path(ld, claim)))
        throw new ConcurrentWriter(
          s"Lease: this span's claim on $path was broken after its TTL " +
            "and another writer may hold the store — aborting the publish " +
            "instead of silently overwriting the usurper's rewrite")
    }
  }

  private def release(spark: SparkSession, path: String): Unit = {
    val ld = leaseDirOf(path)
    val counts = held.get()
    counts.get(ld) match {
      case Some((n, claim)) if n > 1 => counts(ld) = (n - 1, claim)
      case Some((_, claim)) =>
        counts.remove(ld)
        // only THIS thread's uniquely-named claim (+ its heartbeat) —
        // a usurped span can never unlock the usurper
        val fs = fsOf(spark, path)
        fs.delete(new Path(ld, HbPrefix + claim), false)
        fs.delete(new Path(ld, claim), false)
      case None => () // release without acquire: nothing to do
    }
  }
}

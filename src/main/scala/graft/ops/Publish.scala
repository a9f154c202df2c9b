package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** The engine's ONE store-publish protocol — every maintained parquet
  * store (pair artifact, hash registry, sketch index, pack manifest,
  * IVF/PQ serving layouts, model artifacts, compaction) is born and
  * replaced through [[publish]], and read through [[resolveLive]] /
  * [[readLive]]. Every step is a single-object operation, so the
  * protocol is atomic on HDFS, local filesystems AND S3-style object
  * stores (where a directory rename is a copy plus a delete, and so
  * never atomic):
  *
  *   0. stage the prepared frame to an immutable VERSION directory
  *      `root/_v-<N>` — Spark's job commit, then any sidecar, then the
  *      [[StagedMarker]] (a version without the marker is torn);
  *   1. COMMIT with one pointer-file create: `root/_ptr-<N>` naming the
  *      version (a single PUT);
  *   2. GC everything but the newest committed version and its pointer.
  *
  * Version dirs and pointers are UNDERSCORE-prefixed, so Spark's file
  * listing skips them: a plain `spark.read.parquet(root)` sees no data,
  * and every reader resolves the committed version instead. Readers
  * resolve the highest pointer whose version is COMPLETE ([[current]])
  * — before the commit PUT the old version, after it the new one; a
  * torn pointer (a crash inside the create on a filesystem, where
  * create+write is not atomic) names no complete version and is
  * skipped. A reader therefore never observes a torn store.
  *
  * Crash matrix, settled by [[recover]] (run at the start of every
  * publish, by every [[StoreIO.snapshot]] and by
  * `Dedup.runMaintenance`'s pre-pass): an unreferenced staged version
  * (crash before the commit) is dropped — the publish never happened;
  * a superseded version or pointer (crash before GC) is dropped — the
  * publish stands; a torn pointer is dropped. The pointer IS the
  * store: the newest committed pointer wins, always.
  *
  * Caveats, stated: single writer per store (the [[Lease]] makes that
  * mechanical, and the publish re-checks the lease right before the
  * commit); retention is the newest committed version only, so a
  * reader holding an OLD resolved path across a publish can lose files
  * mid-read. Appends never go into a version directory — they use the
  * delta-directory discipline ([[StoreIO]]).
  */
object Publish {

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val PtrPrefix = "_ptr-"
  private val VersionPrefix = "_v-"
  private[graft] def versionName(n: Long): String = f"$VersionPrefix$n%08d"
  private def ptrName(n: Long): String = f"$PtrPrefix$n%08d"
  private def ptrNumber(name: String): Option[Long] =
    if (!name.startsWith(PtrPrefix)) None
    else scala.util.Try(name.stripPrefix(PtrPrefix).toLong).toOption

  /** Staging-complete marker, written as the LAST staging step — after
    * Spark's `_SUCCESS` and after any [[publish]] `sidecar`. `_SUCCESS`
    * alone proves the data landed, not the sidecar a
    * [[StoreIO.publishMerged]] fold needs to retire its delta children.
    * Its contents are the publishing span's lease claim id (empty for
    * unleased publishes), kept for forensics.
    */
  private[graft] val StagedMarker = "_graft_staged"

  /** Crash points for the kill-interleave drills: the publish throws
    * immediately AFTER the numbered step. [[AfterSpark]] crashes
    * between Spark's job commit and the staging marker (the version
    * must read as torn).
    */
  private[graft] val AfterSpark = 0
  private[graft] val AfterStage = 1
  private[graft] val AfterCommit = 2

  private final class InjectedCrash(step: Int)
    extends RuntimeException(s"injected crash after publish step $step")

  // FileSystem.delete reports failure by RETURNING FALSE, not by
  // throwing — an unchecked delete lets a fold retire its sidecar while
  // the folded children survive (rows in live AND delta, nothing left
  // to recover from). Every delete in the protocol checks its result.
  private[ops] def deleteOrThrow(fs: FileSystem, p: Path): Unit =
    if (fs.exists(p) && !fs.delete(p, true))
      throw new java.io.IOException(s"Publish: delete $p failed")

  /** One-shot small control file (markers, sidecars, pointers) in UTF-8,
    * overwriting any leftover. create() + close() is not atomic: a torn
    * marker leaves its version uncommittable, and a torn pointer names
    * no complete version — neither is ever observable as committed.
    */
  private[ops] def writeSmallFile(fs: FileSystem, p: Path,
      contents: String): Unit = {
    val out = fs.create(p, true)
    try out.write(contents.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private[ops] def readSmallFile(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      new String(buf.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** A committed state: pointer number + the version dir it names. */
  final case class Commit(n: Long, version: String)

  /** The version a pointer file names — its FIRST line (the second, when
    * present, is the publishing span's lease claim id, for forensics).
    */
  private def ptrVersion(fs: FileSystem, r: Path, n: Long): String =
    readSmallFile(fs, new Path(r, ptrName(n)))
      .linesIterator.nextOption().getOrElse("").trim

  /** Every pointer naming a COMPLETE version (staging marker present),
    * newest first — torn pointers and torn stagings are skipped.
    */
  private def commits(fs: FileSystem, r: Path): Iterator[Commit] =
    if (!fs.exists(r)) Iterator.empty
    else fs.listStatus(r).flatMap(st => ptrNumber(st.getPath.getName))
      .sorted(Ordering[Long].reverse).iterator
      .map(n => Commit(n, ptrVersion(fs, r, n)))
      .filter(c => c.version.nonEmpty &&
        fs.exists(new Path(new Path(r, c.version), StagedMarker)))

  /** The newest committed state of `root`; None = never published. */
  def current(spark: SparkSession, root: String): Option[Commit] =
    commits(fsOf(spark, root), new Path(root)).nextOption()

  /** The committed version directory to read, or None when the store
    * has never been published.
    */
  def resolveLive(spark: SparkSession, root: String): Option[String] =
    current(spark, root).map(c => s"${root.stripSuffix("/")}/${c.version}")

  /** The committed version directory; fails loudly when the store has
    * never been published (a store is born through [[publish]] — data
    * written beside the protocol is never served).
    */
  def liveDir(spark: SparkSession, root: String): String =
    resolveLive(spark, root).getOrElse(throw new java.io.FileNotFoundException(
      s"Publish: no committed version at $root"))

  /** Reads the committed version ([[liveDir]]). */
  def readLive(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(liveDir(spark, root))

  /** `sidecar` — an optional (filename, contents) pair written INTO the
    * version directory after Spark's job commit and before the staging
    * marker, so it commits atomically with the data. The one user is
    * [[StoreIO.publishMerged]]'s folded-children list: it must survive
    * a crash between the commit and the child retirement, or the folded
    * rows exist in both the new live store and the surviving delta
    * children with no mechanical recovery.
    */
  def publish(spark: SparkSession, root: String, frame: DataFrame,
      partitionBy: Seq[String] = Nil,
      sidecar: Option[(String, String)] = None): Unit =
    publishImpl(spark, root, frame, partitionBy, crashAfter = Int.MaxValue,
      sidecar = sidecar)

  /** The publish with an injectable crash point — the test seam the
    * kill-at-every-step drills drive. Production callers use [[publish]].
    */
  private[graft] def publishImpl(spark: SparkSession, root: String,
      frame: DataFrame, partitionBy: Seq[String], crashAfter: Int,
      sidecar: Option[(String, String)] = None): Unit = {
    val fs = fsOf(spark, root)
    val r = new Path(root)
    def crash(step: Int): Unit =
      if (crashAfter == step) throw new InjectedCrash(step)
    fs.mkdirs(r)
    // settle any state a previously-crashed publish left behind
    val n = gc(fs, r)._1.map(_.n + 1).getOrElse(0L)
    // a leased span renews its heartbeat before its longest step — the
    // staging write is minutes at scale (no-op when unleased)
    Lease.renew(spark, root)
    val vdir = new Path(r, versionName(n))
    // step 0: stage the immutable version (the live version stays
    // readable throughout — frames derived FROM it execute here)
    val w = frame.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(vdir.toString)
    crash(AfterSpark)
    sidecar.foreach { case (name, contents) =>
      writeSmallFile(fs, new Path(vdir, name), contents)
    }
    val claim = Lease.heldClaim(root).getOrElse("")
    writeSmallFile(fs, new Path(vdir, StagedMarker), claim)
    crash(AfterStage)
    // FENCE immediately before the commit: the staging write is the
    // span's long pole, so a TTL break overwhelmingly lands inside it —
    // a usurped span aborts HERE, leaving only an unreferenced version
    // the next recover drops. (The residual window is this exists() to
    // the create below; the atomic form is a conditional PUT.)
    Lease.checkHeld(spark, root)
    // step 1: the commit — ONE pointer-object create
    writeSmallFile(fs, new Path(r, ptrName(n)),
      versionName(n) + (if (claim.isEmpty) "" else "\n" + claim))
    crash(AfterCommit)
    // step 2: GC the superseded version
    gc(fs, r)
    // re-cache any persisted plans over this store (new reads resolve
    // afresh; a Dataset created before the publish must not be reused)
    spark.catalog.refreshByPath(root)
  }

  /** Settles whatever a crashed publish left at `root` (see the crash
    * matrix above) and reports `none` (healthy), `cleared` (dropped an
    * unreferenced staging, a superseded state, or a torn pointer) or
    * `missing` (no committed version — never published, or lost; the
    * caller plans a rebuild, never this function). Idempotent.
    */
  def recover(spark: SparkSession, root: String): String =
    gc(fsOf(spark, root), new Path(root)) match {
      case (None, _) => "missing"
      case (_, removed) => if (removed > 0) "cleared" else "none"
    }

  /** Deletes every version directory and pointer file except the newest
    * committed pair (torn stagings and torn pointers are unreferenced by
    * construction). Entries the protocol does not own are left alone.
    * Returns the surviving commit and the number of entries removed.
    */
  private def gc(fs: FileSystem, r: Path): (Option[Commit], Int) = {
    if (!fs.exists(r)) return (None, 0)
    val kept = commits(fs, r).nextOption()
    val stale = fs.listStatus(r).map(_.getPath).filter { p =>
      val name = p.getName
      if (name.startsWith(PtrPrefix)) !kept.exists(c => ptrName(c.n) == name)
      else if (name.startsWith(VersionPrefix)) !kept.exists(_.version == name)
      else false
    }
    stale.foreach(deleteOrThrow(fs, _))
    (kept, stale.length)
  }
}

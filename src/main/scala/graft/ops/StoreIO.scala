package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** DELTA-DIRECTORY append discipline — how concurrent INGEST APPENDS
  * are serialized against MAINTENANCE REWRITES without a lock.
  *
  * The hazard: the streaming paths append to the same stores (verified
  * pairs, MinHash sketch index, content-hash registry, pack manifest,
  * IVF/PQ serving layouts) that the maintenance operators
  * ([[graft.ext.Dedup.storeRepair]] / `deleteApply` / `runMaintenance`)
  * rewrite through [[Publish]]. A committed version directory is
  * immutable, so an append can never land inside it: rows written
  * beside the version are never served, and rows written into it would
  * vanish with the next publish's GC.
  *
  * The discipline: writers never touch the live version.
  *
  *   - [[append]] writes a self-contained parquet child under
  *     `path__delta/d-<token>`. Distinct tokens never collide, so any
  *     number of appenders run concurrently with each other and with a
  *     publish; a REPLAYED append reusing its token overwrites its own
  *     child (at-least-once delivery folds to exactly-once state).
  *   - [[read]] serves live ∪ delta children — appends are visible
  *     immediately, no fold required.
  *   - [[snapshot]] pins the delta children present NOW; a rewrite
  *     derives its output from exactly that snapshot and
  *     [[publishMerged]] folds it: publish a new version and delete
  *     exactly the snapshotted children. Appends that arrive after the
  *     snapshot survive untouched in the delta directory and remain
  *     visible through [[read]] — the post-state is the serial order
  *     "rewrite, then the late appends".
  *
  * Contract, stated precisely: APPENDS are safe against any concurrent
  * rewrite (that is the whole point); REWRITES (repairs, delete
  * applies, folds — including the compaction an appender's file-count
  * trigger fires) are lost-update-prone against EACH OTHER and must run
  * in one maintenance actor — a stream deployed alongside an external
  * maintenance loop passes `compactTrigger = Int.MaxValue` and lets
  * that loop own all folds. Between the commit and the snapshot-child
  * retirement inside [[publishMerged]], a reader in another thread sees
  * the folded rows twice — TRANSIENTLY only: the folded-children
  * sidecar commits with the data, so a crash in that window is settled
  * by [[recoverFolds]] (every snapshot and the maintenance pre-pass run
  * it), and a replayed append of a retired token is a no-op (the
  * `_retired` registry). Plain parquet has no multi-directory
  * atomicity; the production-scale form of this whole file is a
  * transaction log (Delta/Iceberg-style manifest + pointer commit) —
  * the delta directory is its filesystem approximation.
  */
object StoreIO {

  def deltaDirOf(path: String): String = path.stripSuffix("/") + "__delta"

  /** Retired-token registry: one zero-byte marker per FOLDED delta
    * child, under `path__delta/_retired/<childName>`. A fold moves a
    * child's rows into the live store and deletes the child; without
    * the marker, an at-least-once replay of that child's append token
    * would recreate the child and the batch's rows would exist twice in
    * live ∪ delta — the marker makes the replayed append a no-op
    * instead (exactly-once STATE survives a fold, not just a same-call
    * retry). Markers are a few bytes per folded batch and are only
    * listed point-wise (one exists() per tokened append); they are kept
    * indefinitely — pruning is safe once a token is outside the
    * delivery system's replay horizon, which this library cannot know.
    */
  private def retiredDirOf(path: String): String =
    deltaDirOf(path) + "/_retired"

  /** Folded-children sidecar, written into the version directory by
    * [[publishMerged]] and committed atomically with the folded data:
    * the recovery bookkeeping that lets [[recoverFolds]] retire exactly
    * the children a crashed fold had already merged into live.
    */
  private[graft] val FoldedSidecar = "_graft_folded"

  private def fsOf(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Appends `frame` as a self-contained delta child. `token` is the
    * idempotence key: replays of the same logical append MUST reuse it
    * (the child is overwritten, not duplicated — and once a fold has
    * retired the child, the replay is a NO-OP: its rows already live in
    * the folded store); independent appends must differ (a UUID is
    * generated when omitted).
    */
  def append(frame: DataFrame, path: String, token: String = ""): Unit = {
    val t = if (token.nonEmpty) token
      else java.util.UUID.randomUUID().toString
    val spark = frame.sparkSession
    val fs = fsOf(spark, path)
    val marker = new Path(retiredDirOf(path), s"d-$t")
    if (token.nonEmpty && fs.exists(marker)) return
    frame.write.mode(SaveMode.Overwrite)
      .parquet(s"${deltaDirOf(path)}/d-$t")
    // RE-CHECK after the write: appends are deliberately lock-free, so
    // a replay can race a fold's retirement — initial check sees no
    // marker, the fold then retires (marker + child delete), and the
    // write above resurrects a child whose rows the fold already moved
    // into live, with no recovery path left. The post-write check
    // closes every interleave: the marker is written BEFORE the fold
    // deletes the child, so if the child was (or is about to be)
    // retired, the marker is visible here and this append cancels its
    // own resurrection; if the marker lands after this check, the
    // fold's own child delete (which follows its marker) removes the
    // just-written child instead — either way the rows exist once.
    if (token.nonEmpty && fs.exists(marker))
      Publish.deleteOrThrow(fs, new Path(deltaDirOf(path), s"d-$t"))
  }

  /** The delta children present now (each one complete parquet dir).
    * Only `d-*` entries are children — the `_retired` token registry
    * shares the delta directory and must never read as data.
    */
  def deltaChildren(spark: SparkSession, path: String): Seq[String] = {
    val d = new Path(deltaDirOf(path))
    val fs = fsOf(spark, path)
    if (!fs.exists(d)) Nil
    else fs.listStatus(d).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("d-"))
      .map(_.getPath.toString).sorted
  }

  /** live ∪ delta. `ddl` pins the schema (required when the live store
    * may be missing or empty, and for hive-partitioned stores whose
    * delta children carry the partition key as a data column).
    */
  def read(spark: SparkSession, path: String,
      ddl: Option[String] = None): DataFrame =
    readParts(spark, path, deltaChildren(spark, path), ddl)

  /** A pinned view: live ∪ exactly `children` (the [[snapshot]] form —
    * appends landing after the listing are excluded by construction).
    */
  private def readParts(spark: SparkSession, path: String,
      children: Seq[String], ddl: Option[String]): DataFrame = {
    def rd(p: String): DataFrame =
      ddl.fold(spark.read.parquet(p))(d =>
        spark.read.schema(StructType.fromDDL(d)).parquet(p))
    val parts = Publish.resolveLive(spark, path).toSeq ++ children
    if (parts.isEmpty) {
      require(ddl.isDefined, s"StoreIO.read: missing store $path needs a schema")
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType.fromDDL(ddl.get))
    } else parts.map(rd).reduce(_.unionByName(_))
  }

  /** A rewrite's input: the store as of NOW, plus the delta-child list
    * that view folded — pass both to [[publishMerged]].
    */
  final case class Snapshot(frame: DataFrame, children: Seq[String])

  def snapshot(spark: SparkSession, path: String,
      ddl: Option[String] = None): Snapshot = {
    // settle any crashed publish/fold FIRST: a snapshot taken before a
    // crashed fold's children are retired would fold those rows a
    // second time (they are already in live)
    Publish.recover(spark, path)
    recoverFolds(spark, path)
    val children = deltaChildren(spark, path)
    Snapshot(readParts(spark, path, children, ddl), children)
  }

  /** Publishes a frame derived from `snap` and retires exactly the
    * delta children that snapshot folded. Appends racing the publish
    * landed in children the snapshot never listed — they survive.
    *
    * The child retirement is CRASH-RECOVERABLE: the folded-children
    * list rides the version directory as a sidecar ([[Publish.publish]])
    * and commits atomically with the folded data, so a crash between
    * the commit and the retirement leaves a live `_graft_folded` list
    * that [[recoverFolds]] (run by every [[snapshot]], by this method,
    * and by `Dedup.runMaintenance`'s pre-pass) settles by retiring
    * exactly those children — the folded rows can never persist in both
    * live and delta.
    */
  def publishMerged(spark: SparkSession, path: String, frame: DataFrame,
      snap: Snapshot, partitionBy: Seq[String] = Nil): Unit = {
    // fence: a leased span whose TTL was broken mid-span must abort
    // HERE, not silently overwrite the usurper's rewrite (no-op when
    // the caller holds no lease)
    Lease.checkHeld(spark, path)
    val names = snap.children.map(c => new Path(c).getName)
    // a fold with no children has nothing to retire: no sidecar (every
    // small-file create costs a chmod fork on a local filesystem)
    val sidecar =
      if (names.isEmpty) None else Some(FoldedSidecar -> names.mkString("\n"))
    Publish.publish(spark, path, frame, partitionBy, sidecar)
    recoverFolds(spark, path)
  }

  /** Settles a fold whose publish committed but whose child retirement
    * did not complete (crash, or simply the tail of a healthy
    * [[publishMerged]]): reads the committed `_graft_folded` sidecar,
    * marks each listed child's token retired (so a replayed append of
    * that token no-ops), deletes the child, and drops the sidecar.
    * Idempotent; no-op on stores without a pending fold.
    */
  def recoverFolds(spark: SparkSession, path: String): Unit = {
    val fs = fsOf(spark, path)
    val liveOpt = Publish.resolveLive(spark, path)
    if (liveOpt.isEmpty) return
    val sidecar = new Path(liveOpt.get, FoldedSidecar)
    if (!fs.exists(sidecar)) return
    val names = Publish.readSmallFile(fs, sidecar)
      .split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
    if (names.nonEmpty) fs.mkdirs(new Path(retiredDirOf(path)))
    names.foreach { name =>
      // marker BEFORE delete: a crash between the two leaves the child
      // both retired and present, and the re-run deletes it — the
      // reverse order would let a replayed append resurrect the rows
      Publish.writeSmallFile(fs, new Path(retiredDirOf(path), name), "")
      Publish.deleteOrThrow(fs, new Path(deltaDirOf(path), name))
    }
    // only after every child is gone: a failed child delete throws
    // above and leaves the sidecar as the record to retry from
    Publish.deleteOrThrow(fs, sidecar)
  }

  /** Snapshot-rewrite in one call: `f` over live ∪ pinned delta,
    * published to live, snapshot children retired. The span holds the
    * store's [[Lease]] from snapshot through publish — a concurrent
    * rewriter fails loudly instead of silently losing this rewrite's
    * changes (the rewrite-vs-rewrite hazard).
    */
  def rewrite(spark: SparkSession, path: String, f: DataFrame => DataFrame,
      ddl: Option[String] = None, partitionBy: Seq[String] = Nil): Unit =
    Lease.withLeases(spark, Seq(path)) {
      val snap = snapshot(spark, path, ddl)
      publishMerged(spark, path, f(snap.frame), snap, partitionBy)
    }

  /** File-count hygiene across live AND delta: how many parquet LEAF
    * FILES a [[read]] must list (the compaction trigger's currency —
    * a delta child holds one part file per write task, so counting
    * children instead of leaves would let listing cost grow unbounded
    * under the trigger).
    */
  def fragmentCount(spark: SparkSession, path: String): Int = {
    val fs = fsOf(spark, path)
    // RECURSIVE leaf count: a hive-partitioned live store keeps its
    // part files under partition subdirectories, so a top-level listing
    // would report ~0 leaves and the compaction trigger would never
    // fire on exactly the stores whose listing cost it meters. One
    // recursive listing also covers every delta child (and skips the
    // `_retired` registry, whose markers are not .parquet files).
    def leaves(dir: String): Int = {
      val p = new Path(dir)
      if (!fs.exists(p)) 0
      else {
        var n = 0
        val it = fs.listFiles(p, true)
        while (it.hasNext)
          if (it.next().getPath.getName.endsWith(".parquet")) n += 1
        n
      }
    }
    leaves(Publish.resolveLive(spark, path).getOrElse(path)) + leaves(deltaDirOf(path))
  }
}

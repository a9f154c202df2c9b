package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Per-invocation scratch copies of pristine store fixtures — the
  * bench discipline for EXECUTE operators (delete apply, retrain
  * apply): the pristine state is ingest cost, staged once per
  * (JVM, corpus) by an `ensure*` fixture; each invocation copies it
  * (file I/O, not a recompute — the operator rewrites its stores in
  * place, so a shared fixture would drift) and the copy is dropped in
  * finally, so a failed or repeated run never accretes corpus-sized
  * store copies in /tmp. Callers must return only frames rooted in
  * checkpoints — the scratch is gone when the result is consumed.
  */
object Scratch {

  private val jvmRoots = scala.collection.mutable.Map.empty[(String, String), java.nio.file.Path]

  /** This JVM's `<prefix><N>` dir under `parent`: made on first use and
    * deleted when the JVM exits. What is staged there is read only by
    * this JVM (per-JVM caches, frames read lazily until the end of a run).
    */
  private[graft] def jvmRoot(parent: String, prefix: String): java.nio.file.Path =
    jvmRoots.synchronized {
      jvmRoots.getOrElseUpdate((parent, prefix), {
        val root = java.nio.file.Files.createTempDirectory(
          java.nio.file.Paths.get(parent), prefix)
        Runtime.getRuntime.addShutdownHook(new Thread(() =>
          org.apache.spark.network.util.JavaUtils.deleteRecursively(root.toFile)))
        root
      })
    }

  /** Root of this JVM's `ensure*` fixture stores. */
  private[graft] def fixtureRoot: java.nio.file.Path =
    jvmRoot(System.getProperty("java.io.tmpdir"), "graft_fixtures")

  /** A fresh `<prefix><N>` dir for one `ensure*` fixture under the JVM's
    * fixture root. Call it only once the fixture's input read resolved,
    * so a missing corpus leaves no empty dir behind.
    */
  def fixtureDir(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(fixtureRoot, prefix)

  def withFixtureCopy[T](spark: SparkSession, fixture: String,
      prefix: String)(body: String => T): T = {
    val root = java.nio.file.Files.createTempDirectory(prefix)
      .resolve("state").toString
    val fs = new Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      Timing.step("fixtureCopy")(org.apache.hadoop.fs.FileUtil.copy(
        fs, new Path(fixture), fs, new Path(root),
        false, spark.sparkContext.hadoopConfiguration))
      body(root)
    } finally {
      fs.delete(new Path(root).getParent, true)
    }
  }
}

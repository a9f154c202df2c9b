package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared test session: one JVM-wide SparkSession across suites. */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session
  def fixture(rel: String): String =
    getClass.getResource(s"/fixtures/$rel").getPath

  def tempDir(prefix: String): java.nio.file.Path = SparkSuite.tempDir(prefix)

  /** Staged stores are born through the one publish protocol, like the
    * engine's own bootstrap writers. */
  implicit class PublishTo(df: DataFrame) {
    def publishTo(root: String, partitionBy: String*): Unit =
      graft.ops.Publish.publish(df.sparkSession, root, df, partitionBy)
  }
}

object SparkSuite {
  /** A fresh `<prefix><N>` dir under this JVM's one spec scratch root
    * (`graft_specs<N>` in java.io.tmpdir), which is deleted when the
    * JVM exits, so spec runs leave no dirs behind. */
  def tempDir(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(
      graft.ops.Scratch.jvmRoot(System.getProperty("java.io.tmpdir"), "graft_specs"), prefix)

  lazy val session: SparkSession = {
    val s = GraftSession.builder("graft-test").master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir", tempDir("graft_warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

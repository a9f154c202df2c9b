package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.TransformWithState
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import org.apache.spark.sql.types.StructType

/** How every stream in the engine is driven: the runners declare a
  * source ([[fileStream]]), a transform and a [[Sink]], and [[drain]]
  * runs the query with `Trigger.AvailableNow` — drain everything that
  * has arrived, then stop (an incremental batch). Runners that keep
  * cross-batch state outside Spark's state store do it through
  * [[batchKeyed]].
  */
object Streams {

  /** A file-source stream over `glob`. `oneFilePerTrigger` pins one
    * file per micro-batch, for runners whose per-batch output or state
    * is keyed by arrival.
    */
  def fileStream(spark: SparkSession, schema: StructType, glob: String,
      oneFilePerTrigger: Boolean, format: String = "parquet",
      options: Map[String, String] = Map.empty): DataFrame = {
    val reader = spark.readStream.schema(schema).options(options)
    (if (oneFilePerTrigger) reader.option("maxFilesPerTrigger", 1) else reader)
      .format(format).load(glob)
  }

  sealed trait Sink
  /** A named in-memory table. */
  final case class Memory(queryName: String, mode: OutputMode) extends Sink
  /** An append-mode parquet file sink; with its checkpoint the output is
    * exactly-once across restarts.
    */
  final case class Parquet(path: String, checkpoint: String) extends Sink
  /** Hands each micro-batch and its id to `body`. */
  final case class ForeachBatch(checkpoint: Option[String],
      body: (DataFrame, Long) => Unit) extends Sink

  /** A foreachBatch body that skips empty micro-batches. */
  def nonEmpty(body: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit =
    (batch, id) => if (!batch.isEmpty) body(batch, id)

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"

  /** Runs `df` into `sink` until every arrived input is processed.
    * `transformWithState` requires the RocksDB state store, so a plan
    * that contains it runs with that provider, and the previous value
    * comes back afterwards, also when the stream fails.
    */
  def drain(df: DataFrame, sink: Sink): Unit = {
    val w: DataStreamWriter[Row] = df.writeStream.trigger(Trigger.AvailableNow())
    val writer = sink match {
      case Memory(name, mode) => w.format("memory").queryName(name).outputMode(mode)
      case Parquet(path, checkpoint) =>
        w.format("parquet").option("path", path)
          .option("checkpointLocation", checkpoint).outputMode(OutputMode.Append())
      case ForeachBatch(checkpoint, body) =>
        checkpoint.fold(w)(w.option("checkpointLocation", _)).foreachBatch(body)
    }
    val stateful = df.queryExecution.analyzed.exists(_.isInstanceOf[TransformWithState])
    val spark = df.sparkSession
    // the explicitly set value: unset stays unset afterwards
    val prev = spark.conf.getAll.get(ProviderKey)
    if (stateful) spark.conf.set(ProviderKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try writer.start().awaitTermination()
    finally if (stateful) prev match {
      case Some(p) => spark.conf.set(ProviderKey, p)
      case None    => spark.conf.unset(ProviderKey)
    }
  }

  /** The batch-keyed state-file protocol of the ingest monitors: the
    * state after batch N lives in `<dir>/<prefix>_<N>.<ext>`. `step`
    * gets the bytes of the newest file older than `batchId` (None for the
    * first batch) and returns this batch's bytes plus a result.
    *
    * Keyed files (not one mutable file) make a replay exact: foreachBatch
    * is at-least-once, and a replay of batch N re-reads batch N-1's state
    * (still present) instead of a state that already contains itself,
    * then rewrites its own file with identical contents. Streaming replays
    * only the last uncommitted batch, so files older than the predecessor
    * are pruned: the state stays two files.
    */
  def batchKeyed[R](dir: String, prefix: String, ext: String, batchId: Long)(
      step: Option[Array[Byte]] => (Array[Byte], R)): R = {
    import java.nio.file.Files
    val root = java.nio.file.Paths.get(dir)
    def file(id: Long) = root.resolve(s"${prefix}_$id.$ext")
    // plain String listing: no stream handle to leak per batch
    def ids(): Seq[Long] = root.toFile.list().toSeq
      .filter(f => f.startsWith(s"${prefix}_") && f.endsWith(s".$ext"))
      .map(_.stripPrefix(s"${prefix}_").stripSuffix(s".$ext").toLong)
    val prevId = ids().filter(_ < batchId).sorted.lastOption
    val (bytes, out) = step(prevId.map(i => Files.readAllBytes(file(i))))
    Files.write(file(batchId), bytes)
    prevId.foreach(p => ids().filter(_ < p).foreach(i => Files.delete(file(i))))
    out
  }
}

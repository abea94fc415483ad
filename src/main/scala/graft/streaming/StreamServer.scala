package graft.streaming

import scala.reflect.runtime.universe.TypeTag

import graft.operators.{NioLocalFileSystem, ShardSink}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, Path, PathFilter}
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.graft.Shims
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StreamingQuery, Trigger}

/** The ways a streaming server here starts: a `foreachBatch` body over a
  * stream ([[eachBatch]]), a stream appended to a parquet table
  * ([[appendParquet]]), or an archive family's per-file decoder over
  * files landing in a directory ([[ingestLanded]]). All get exactly-once
  * progress from the checkpoint under `checkpointDir`.
  *
  * Every query started here writes its checkpoint through
  * [[GraftCheckpointFileManager]], set as the session's
  * `spark.sql.streaming.checkpointFileManagerClass` unless the user set
  * that key. Spark's default manager writes a local checkpoint through
  * Hadoop's `FileContext`, which without the native Hadoop library starts
  * ten `chmod` and `readlink` processes per log entry: 30 per micro-batch
  * over the `sources`, `offsets` and `commits` logs, a third of a small
  * batch's wall time (SCALE.md §7). The session's Hadoop conf carries the
  * key to every file Spark keeps for the query: those three logs, the
  * `metadata` file, a file sink's `_spark_metadata` and the state store.
  */
private[graft] object StreamServer {

  private[streaming] val CheckpointManagerKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Run `body` on each micro-batch of `stream` with its batch id.
    * `trigger` and `mode` default to `DataStreamWriter`'s own defaults
    * (as-fast-as-possible micro-batches, Append).
    */
  def eachBatch(stream: DataFrame, checkpointDir: String,
                trigger: Trigger = Trigger.ProcessingTime(0L),
                mode: OutputMode = OutputMode.Append())
               (body: (DataFrame, Long) => Unit): StreamingQuery =
    writer(stream, checkpointDir, trigger)
      .outputMode(mode)
      .foreachBatch(body)
      .start()

  /** Append each micro-batch of `stream` to the parquet table `outDir`. */
  def appendParquet(stream: DataFrame, outDir: String, checkpointDir: String,
                    trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery =
    writer(stream, checkpointDir, trigger)
      .format("parquet")
      .option("path", outDir)
      .start()

  /** Continuous archive ingestion: files matching `glob` that land
    * under `landingDir` are decoded one task per file by
    * `decode(path, hadoopConf)` and appended to the parquet table
    * `outDir` with columns `cols`. Only `path` is selected from the
    * `binaryFile` source, so file bytes never ride in a Row: the decoder
    * opens the file itself and streams it. `maxFilesPerTrigger` bounds
    * each micro-batch (the backpressure knob).
    */
  def ingestLanded[T <: Product : TypeTag](
      spark: SparkSession, landingDir: String, glob: String,
      maxFilesPerTrigger: Int, outDir: String, checkpointDir: String,
      cols: String*)(
      decode: (String, org.apache.hadoop.conf.Configuration) => Iterator[T])
      : StreamingQuery = {
    val conf = new Shims.SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
    val decoded = spark.readStream.format("binaryFile")
      // fixed by the format, but streaming file sources require it stated
      .schema("path STRING, modificationTime TIMESTAMP, length BIGINT, content BINARY")
      .option("pathGlobFilter", glob)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .load(landingDir)
      .select("path").as(Encoders.STRING)
      .flatMap(decode(_, conf.value))(Encoders.product[T])
      .toDF(cols: _*)
    appendParquet(decoded, outDir, checkpointDir)
  }

  private def writer(stream: DataFrame, checkpointDir: String, trigger: Trigger): DataStreamWriter[Row] = {
    val conf = stream.sparkSession.conf
    if (conf.getOption(CheckpointManagerKey).isEmpty)
      conf.set(CheckpointManagerKey, classOf[GraftCheckpointFileManager].getName)
    stream.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
  }
}

/** Spark's checkpoint file manager for the queries [[StreamServer]]
  * starts. A local checkpoint (resolved scheme `file`, the test of
  * [[ShardSink.fileSystem]]) gets Spark's `FileSystem`-based manager over
  * the per-JVM [[NioLocalFileSystem]]: modes are set through `java.nio`,
  * and its rename refuses an existing file, the contract `HDFSMetadataLog`
  * relies on to fail a second writer of the same batch. The checkpoint's
  * layout is unchanged (entry names, `.tmp` names, `.crc` side files), so
  * a checkpoint written under Spark's default manager restarts under this
  * one. Any other scheme gets what `CheckpointFileManager.create` builds
  * without the key: the `FileContext`-based manager, or the
  * `FileSystem`-based one where the scheme has no `FileContext`.
  */
final class GraftCheckpointFileManager(path: Path, conf: Configuration) extends CheckpointFileManager {

  private[graft] val files: CheckpointFileManager = ShardSink.fileSystem(path, conf) match {
    case nio: NioLocalFileSystem => new GraftCheckpointFileManager.Local(path, conf, nio)
    case _ =>
      val default = new Configuration(conf)
      default.unset(StreamServer.CheckpointManagerKey)
      CheckpointFileManager.create(path, default)
  }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CheckpointFileManager.CancellableFSDataOutputStream =
    files.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = files.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = files.list(p, filter)
  override def mkdirs(p: Path): Unit = files.mkdirs(p)
  override def exists(p: Path): Boolean = files.exists(p)
  override def delete(p: Path): Unit = files.delete(p)
  override def isLocal: Boolean = files.isLocal
  override def createCheckpointDirectory(): Path = files.createCheckpointDirectory()
  override def close(): Unit = files.close()
}

object GraftCheckpointFileManager {

  /** The local manager. An overwriting rename (the state store's
    * `overwriteIfPossible = true`) replaces the destination as Hadoop's
    * own local rename does; Spark's manager would take the refusal for an
    * existing destination and leave its temp file behind.
    */
  private[graft] final class Local(path: Path, conf: Configuration, nio: NioLocalFileSystem)
      extends FileSystemBasedCheckpointFileManager(path, conf) {
    override protected val fs: FileSystem = nio

    override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit =
      if (!overwriteIfPossible || !nio.renameReplacing(src, dst))
        super.renameTempFile(src, dst, overwriteIfPossible)
  }
}

package graft.streaming

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.graft.Shims
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

/** The two ways a streaming server here starts: a `foreachBatch` body
  * over a stream ([[eachBatch]]), or an archive family's per-file
  * decoder over files landing in a directory ([[ingestLanded]]). Both
  * get exactly-once progress from the checkpoint under `checkpointDir`.
  */
private[graft] object StreamServer {

  /** Run `body` on each micro-batch of `stream` with its batch id.
    * `trigger` and `mode` default to `DataStreamWriter`'s own defaults
    * (as-fast-as-possible micro-batches, Append).
    */
  def eachBatch(stream: DataFrame, checkpointDir: String,
                trigger: Trigger = Trigger.ProcessingTime(0L),
                mode: OutputMode = OutputMode.Append())
               (body: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .trigger(trigger)
      .outputMode(mode)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(body)
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
    spark.readStream.format("binaryFile")
      // fixed by the format, but streaming file sources require it stated
      .schema("path STRING, modificationTime TIMESTAMP, length BIGINT, content BINARY")
      .option("pathGlobFilter", glob)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .load(landingDir)
      .select("path").as(Encoders.STRING)
      .flatMap(decode(_, conf.value))(Encoders.product[T])
      .toDF(cols: _*)
      .writeStream
      .format("parquet")
      .option("checkpointLocation", checkpointDir)
      .option("path", outDir)
      .start()
  }
}

package graft.streaming

import graft.operators.{PartitionConfig, PrePartition}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** M4 — the event-driven mode (reference: ServiceBusServer.cs + the 1-min
  * group-commit flush of PartitionedContentSink.cs:163-180), rebuilt on
  * Structured Streaming:
  *
  *   blob-created queue events  →  file-source streaming (new files under
  *                                 the landing path are the events)
  *   1-min flush loop           →  Trigger.ProcessingTime micro-batches
  *   at-least-once + lock renewal → checkpointed source offsets (renewal
  *                                 is unnecessary: offsets only commit
  *                                 after the batch succeeds)
  *   IngestIfNotExists tags     →  per-batch manifest keyed
  *                                 (batch_id, pid); foreachBatch skips
  *                                 work already committed, so replays of a
  *                                 failed batch are idempotent
  *
  * Scale notes: each micro-batch is the batch PrePartition plan (one hash
  * exchange); `maxFilesPerTrigger` bounds batch size = the reference's
  * bounded-buffer backpressure. Checkpoint + manifest give exactly-once
  * *output* on top of at-least-once replay.
  */
object StreamingPrePartition {

  /** Start the streaming pipeline. Returns the query handle (caller stops). */
  def start(spark: SparkSession, landingDir: String, stagingDir: String,
            checkpointDir: String, cfg: PartitionConfig,
            trigger: Trigger = Trigger.ProcessingTime("1 minute"),
            maxFilesPerTrigger: Int = 16): StreamingQuery = {
    val lines = spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .text(landingDir)
    eachBatch(lines, trigger, checkpointDir) { (batch, batchId) =>
      processBatch(batch, batchId, Seq(stagingDir), stagingDir, cfg)
    }
  }

  /** The `foreachBatch` wiring every pipeline here shares. */
  private def eachBatch(stream: DataFrame, trigger: Trigger, checkpointDir: String)
                       (f: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(f)
      .start()

  /** One micro-batch: partition + write, guarded by the batch manifest.
    * Partition `pid` lands under `roots(pid % N)/data/batch=<id>/pid=<pid>/`
    * (reference: PartitionedContentSink.cs:54-66 round-robins flush blobs
    * over the staging containers; one root is the plain staging write);
    * the marker lives under `controlDir`. Exactly-once under at-least-once
    * replay needs BOTH halves: the data write OVERWRITES each root's
    * per-batch directory (so a replay that re-runs the write after a crash
    * mid-write replaces, never duplicates), and the marker is written AFTER
    * the data (so a marked batch is never re-run at all). Public so the
    * replay path is directly testable.
    */
  def processBatch(batch: DataFrame, batchId: Long, roots: Seq[String],
                   controlDir: String, cfg: PartitionConfig): Unit = {
    val s = batch.sparkSession
    // Per-batch marker DIRECTORY probed with one fs.exists — O(1) per
    // trigger regardless of history (the r1 design re-read the full
    // manifest parquet every micro-batch and appended a 1-row file per
    // batch: O(batches) listing per trigger, unbounded small files).
    // The tree still reads as one partitioned parquet table:
    //   spark.read.parquet(s"$controlDir/_batch_manifest")
    val markerPath = new org.apache.hadoop.fs.Path(
      s"$controlDir/_batch_manifest/batch=$batchId")
    val fs = markerPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    // _SUCCESS appears only at job commit, so a crash mid-marker-write
    // leaves the batch unmarked and the replay re-runs it (overwrite).
    val already = fs.exists(new org.apache.hadoop.fs.Path(markerPath, "_SUCCESS"))
    if (!already) {
      PrePartition.overwrite(PrePartition.withPartitionId(batch, cfg),
        roots.map(r => s"$r/data/batch=$batchId"), cfg, gzipOutput = false)
      // commit marker AFTER the data write: replay-safe ordering
      s.range(1).select(
        lit(batchId).as("batch_id"),
        current_timestamp().as("committed_at"))
        .write.mode(SaveMode.Overwrite).parquet(markerPath.toString)
    }
  }

  /** Start the pipeline on the NOTIFICATION source instead of directory
    * listing (reference analogue: ServiceBusServer.cs blob-created queue
    * events): the landing agent publishes each landed blob to `queueDir`
    * via [[NotifyQueue.publish]], and per-trigger source cost is O(new
    * notifications) — ONE exists-probe when idle — independent of how many
    * blobs have ever landed. The built-in file source re-lists the landing
    * dir every trigger: O(history), a real stall past ~1 M processed blobs.
    * Sink/replay contract is identical to [[start]].
    */
  def startNotified(spark: SparkSession, queueDir: String, stagingDir: String,
                    checkpointDir: String, cfg: PartitionConfig,
                    trigger: Trigger = Trigger.ProcessingTime("1 minute"),
                    maxFilesPerTrigger: Int = 16,
                    claimMode: String = "rename"): StreamingQuery = {
    val lines = spark.readStream
      .format("graft-notify")
      .option("queueDir", queueDir)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .option("claimMode", claimMode)
      .load()
    eachBatch(lines, trigger, checkpointDir) { (batch, batchId) =>
      processBatch(batch, batchId, Seq(stagingDir), stagingDir, cfg)
    }
  }

  /** Event-driven SPLIT — the reference's other EtlAction on the same
    * notification trigger (`GraftSettings.etlAction`: PrePartition |
    * Split). The source emits blob PATHS (Split derives shard ids from
    * byte offsets of its own read, so it consumes files, not lines); each
    * micro-batch runs the batch Split over the newly-landed blobs.
    * Exactly-once needs NO batch markers here: Split's shard manifest
    * (keyed source_file, shard_id) already makes replays no-ops.
    * The per-batch collect is bounded metadata: ≤ maxFilesPerTrigger
    * paths, never data.
    */
  def startNotifiedSplit(spark: SparkSession, queueDir: String, outDir: String,
                         checkpointDir: String,
                         cfg: graft.operators.Split.SplitConfig,
                         trigger: Trigger = Trigger.ProcessingTime("1 minute"),
                         maxFilesPerTrigger: Int = 16): StreamingQuery = {
    val paths = spark.readStream
      .format("graft-notify")
      .option("queueDir", queueDir)
      .option("emit", "paths")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .load()
    eachBatch(paths, trigger, checkpointDir) { (batch, _) =>
      val blobs = batch.collect().map(_.getString(0))
      // the Hadoop multi-path string is comma-separated: a comma INSIDE
      // a blob path would silently split into garbage paths — refuse
      require(blobs.forall(!_.contains(",")),
        s"blob paths must not contain commas: ${blobs.filter(_.contains(",")).mkString("; ")}")
      if (blobs.nonEmpty) {
        graft.operators.Split.run(batch.sparkSession,
          blobs.mkString(","), outDir, cfg)
        ()
      }
    }
  }
}

package graft.operators

import graft.sources.StreamUtil
import org.apache.hadoop.io.{LongWritable, Text}
import org.apache.hadoop.mapreduce.lib.input.TextInputFormat
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Split mode — the reference's legacy (spec-defining) pipeline
  * (reference: Text/TextSource.cs, TextLineParsingSink.cs,
  * TextPartitionSink.cs, TextStreamSinkBase.cs, TextKustoSink.cs):
  * split huge text blobs into ≤N-byte line-aligned shards, optional header
  * propagated to every shard, optional gzip output, shard naming
  * `{base}-{shardId:00000}.txt[.gz]`, no empty shards, and exactly-once
  * ingest bookkeeping (ingest-by tags → a manifest table keyed
  * (source_file, shard_id) with an is_last_shard marker).
  *
  * Spark-first design — NO sort, NO window, no driver loop:
  *   - `TextInputFormat` keys every line with its BYTE OFFSET in the file;
  *     shard id = offset / maxBytesPerShard. A line straddling a boundary
  *     belongs to the shard where it starts, so shards overrun by at most
  *     one line — the same bound as the reference, which seals a shard on
  *     the first write that crosses the limit (TextStreamSinkBase.cs:62).
  *   - shard assignment is a pure map over (offset) — embarrassingly
  *     parallel over file splits; a 100 TB input is as parallel as its
  *     split count. gzip inputs collapse to one task per file (codec is
  *     non-splittable — identical constraint in the reference, which
  *     streams the whole blob).
  *   - the write repartitions by (file, shard) — the one necessary
  *     shuffle — and each task writes its shards through the first-wins
  *     [[ShardSink]] commit; the manifest write is the commit point
  *     (idempotent replay: shards already in the manifest are skipped).
  */
object Split {

  case class SplitConfig(
      maxBytesPerShard: Long = 200L * 1024 * 1024, // reference default 200 MB
      hasHeader: Boolean = false,
      gzipOutput: Boolean = false)

  /** The first line of a text file (plain or .gz) — its header — as raw
    * bytes.
    */
  private def headerOf(file: String, conf: org.apache.hadoop.conf.Configuration): Array[Byte] = {
    val p = new org.apache.hadoop.fs.Path(file)
    val raw: java.io.InputStream = p.getFileSystem(conf).open(p)
    val in = if (file.endsWith(".gz")) new java.util.zip.GZIPInputStream(raw) else raw
    try StreamUtil.rawLines(in).nextOption().getOrElse(Array.emptyByteArray)
    finally in.close()
  }

  /** Lines with provenance: (file, offset, shard, value). `value` holds
    * each line's bytes verbatim (the binary-to-string cast does not decode),
    * as `spark.read.text` does.
    */
  def linesWithOffsets(spark: SparkSession, inputGlob: String,
                       maxBytesPerShard: Long): DataFrame = {
    import spark.implicits._
    val rdd = spark.sparkContext.newAPIHadoopFile(
      inputGlob, classOf[TextInputFormat], classOf[LongWritable], classOf[Text])
    val withFile = rdd.asInstanceOf[org.apache.spark.rdd.NewHadoopRDD[LongWritable, Text]]
      .mapPartitionsWithInputSplit { (split, iter) =>
        val file = split.asInstanceOf[org.apache.hadoop.mapreduce.lib.input.FileSplit]
          .getPath.toString
        iter.map { case (off, text) => (file, off.get(), text.copyBytes()) }
      }
    withFile.toDF("file", "offset", "value")
      .withColumn("value", col("value").cast("string"))
      .withColumn("shard", (col("offset") / maxBytesPerShard).cast("int"))
  }

  /** Run Split over a glob of text files (plain or .gz — codec-inferred).
    * Writes shards named `{fileBase}-{shardId:00000}.txt[.gz]` under
    * `outDir`, plus a `_manifest` parquet. Returns the manifest DataFrame.
    *
    * Replays are idempotent: (source_file, shard_id) pairs already present
    * in the manifest are not rewritten (reference: IngestIfNotExists tags,
    * Text/TextKustoSink.cs:48-51).
    */
  def run(spark: SparkSession, inputGlob: String, outDir: String,
          cfg: SplitConfig = SplitConfig()): DataFrame = {
    import spark.implicits._
    val lines = linesWithOffsets(spark, inputGlob, cfg.maxBytesPerShard)

    // header per file = the offset-0 line, re-read by the shard writer
    val data = if (cfg.hasHeader) lines.filter(col("offset") > 0) else lines

    // idempotency: skip shards already committed to the manifest
    val manifestPath = s"$outDir/_manifest"
    val prior: Option[DataFrame] = {
      val p = new org.apache.hadoop.fs.Path(manifestPath)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) Some(spark.read.parquet(manifestPath)) else None
    }
    val todo = prior match {
      case Some(m) => data.join(
        m.select(col("source_file").as("file"), col("shard_id").as("shard")),
        Seq("file", "shard"), "left_anti")
      case None => data
    }

    val ext = if (cfg.gzipOutput) ".txt.gz" else ".txt"
    val withHeader = cfg.hasHeader
    // one task per (file, shard): the only shuffle in the plan
    val rows = todo
      .repartition(col("file"), col("shard"))
      .sortWithinPartitions("file", "shard", "offset")
      .select(col("file"), col("shard"), concat(col("value"), lit("\n")).cast("binary"))
      .as[(String, Int, Array[Byte])]
    val written = ShardSink.write(rows.rdd, cfg.gzipOutput, maxOpen = 1)(r => (r._1, r._2))(
      dest = { case (file, shard) =>
        val base = new org.apache.hadoop.fs.Path(file).getName
          .stripSuffix(".gz").stripSuffix(".txt")
        f"$outDir/$base-$shard%05d$ext"
      },
      emit = (r, out) => { out.write(r._3); r._3.length },
      // the header is the source file's first line, read IN THE WRITER
      // (one tiny open per shard ≈ one per 200 MB) — no driver-side map
      // keyed by file, so driver memory is independent of input-file
      // count (100 TB of small headered CSVs is O(#files) under a collect)
      lead = { case ((file, _), conf) =>
        if (withHeader) headerOf(file, conf) :+ '\n'.toByte
        else Array.emptyByteArray
      })
      .map(s => (s.key._1, s.key._2, s.dest, s.bytes,
        s.records + (if (withHeader) 1 else 0)))
      .toDF("source_file", "shard_id", "dest_file", "n_bytes", "n_records")

    // commit point: append the shard summaries as a new manifest SEGMENT.
    // This materializes the side-effecting mapPartitions exactly once, and
    // the parquet job commit (task outputs surface only at job commit) IS
    // the manifest commit — a failed run leaves orphan shard files that the
    // next run's anti-join re-processes (the orphan dest survives first-wins
    // rename; its bytes are deterministic, so keeping it is equivalent to a
    // rewrite). No collect(): driver memory and
    // I/O are independent of both this run's shard count and the total
    // shard history (the r1 design rewrote the whole manifest through the
    // driver — O(history) per run).
    written.write.mode(SaveMode.Append).parquet(manifestPath)
    manifest(spark, outDir)
  }

  /** Read the append-only manifest segments and derive `is_last_shard`
    * distributively: a per-file max over rows (one row per shard — the
    * manifest is metadata, ~1 row / 200 MB of data) joined back broadcast.
    * Deriving at read time keeps segments immutable — incremental runs
    * can never leave a stale or duplicate last-shard marker.
    */
  def manifest(spark: SparkSession, outDir: String): DataFrame = {
    // dropDuplicates: a replayed failed run can append the same
    // (source_file, shard_id) summary twice (rows are bit-identical — the
    // shard bytes are deterministic), and a compaction interrupted between
    // add-new and delete-old phases briefly holds both copies; metadata-
    // sized, so the dedup is free and makes both windows harmless
    val all = spark.read.parquet(s"$outDir/_manifest")
      .dropDuplicates(Seq("source_file", "shard_id"))
    val fileMax = all.groupBy("source_file")
      .agg(max("shard_id").as("max_shard"))
    all.join(broadcast(fileMax), Seq("source_file"))
      .withColumn("is_last_shard", col("shard_id") === col("max_shard"))
      .drop("max_shard")
  }

  /** Manifest retention/compaction — the reference's `extent_tags_retention`
    * analog (reference: templates/script.kql:6 sets a retention policy so
    * ingest-idempotency tags don't accumulate forever): an append-only
    * manifest grows one parquet segment per run, so a year of hourly
    * streaming runs pays listing + footer cost on ~10k tiny segments and
    * keeps idempotency rows for files nobody will ever re-submit.
    *
    * This maintenance op (single-writer, like `Layout.compact` — run it
    * when no split job is appending):
    *   1. drops whole segments older than `retainMs` (segment mtime; each
    *      run's rows land in its own segment, so this is per-run retention
    *      — a source file expired here would be RE-PROCESSED if re-submitted,
    *      the same documented trade the reference's tag retention makes),
    *   2. rewrites the survivors as ONE deduplicated segment.
    * Crash safety: new files land in the manifest dir BEFORE old ones are
    * deleted; the overlap window shows duplicate rows, which `manifest()`
    * dedups at read time. Returns (segmentFilesBefore, segmentFilesAfter).
    */
  def compactManifest(spark: SparkSession, outDir: String,
                      retainMs: Long = Long.MaxValue): (Int, Int) = {
    val dir = new org.apache.hadoop.fs.Path(s"$outDir/_manifest")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val segs = fs.listStatus(dir).filter(_.getPath.getName.endsWith(".parquet"))
    val cutoff = System.currentTimeMillis() - retainMs
    val keep = segs.filter(_.getModificationTime >= cutoff)
    val before = segs.length
    if (keep.isEmpty) { // everything expired: drop all rows, keep the dir
      segs.foreach(s => fs.delete(s.getPath, false))
      return (before, 0) // next run's append re-creates the schema
    }
    val compacted = spark.read.parquet(keep.map(_.getPath.toString): _*)
      .dropDuplicates(Seq("source_file", "shard_id"))
      .coalesce(1)
    val tmp = new org.apache.hadoop.fs.Path(s"$outDir/_manifest_compacting")
    fs.delete(tmp, true)
    compacted.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    // add-new-then-delete-old: part file names carry a job UUID, so the
    // renames cannot collide with existing segments
    val newFiles = fs.listStatus(tmp)
      .filter(_.getPath.getName.endsWith(".parquet"))
    newFiles.foreach { s =>
      require(fs.rename(s.getPath, new org.apache.hadoop.fs.Path(dir, s.getPath.getName)),
        s"compactManifest: rename failed for ${s.getPath}")
    }
    segs.foreach(s => fs.delete(s.getPath, false))
    fs.delete(tmp, true)
    (before, newFiles.length)
  }

  /** B5 — shard-count tracker re-expressed over the manifest
    * (reference: code/IntegrationTests/TestBase.cs:310-316).
    */
  def shardCount(manifest: DataFrame): DataFrame =
    manifest.filter(col("is_last_shard"))
      .select(col("source_file"), (col("shard_id") + 1).as("shard_count"))
      .orderBy("source_file")

  /** B6 — loaded-shard cardinality (TestBase.cs:326-332). */
  def loadedCardinality(manifest: DataFrame): DataFrame =
    manifest.agg(count(lit(1)).as("cardinality"),
      sum("n_records").cast("long").as("total_records"))
}

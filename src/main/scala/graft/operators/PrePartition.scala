package graft.operators

import graft.functions.GraftFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Hash-pre-partitioning settings, mirroring what the reference derives from
  * the Kusto partitioning policy at runtime
  * (reference: code/KustoPreForgeLib/EtlRun.cs:21-24,140-180).
  */
case class PartitionConfig(columnIndex: Int, maxPartitionCount: Int, seed: Int)

/** The PrePartition pipeline — the reference's only active ETL path
  * (reference: code/KustoPreForgeLib/EtlRun.cs:92-138), re-expressed as a
  * declarative Spark plan:
  *
  *   reference chain                          Spark plan
  *   ------------------------------------     ---------------------------------
  *   ListBlobSource (A1)                      spark.read.text(glob) file listing
  *   DownloadBlobTransform (A3)               file-split tasks (maxPartitionBytes)
  *   GunzipContentTransform (A4)              codec-aware text read (.gz native)
  *   CsvParseTransform (A5)                   csv_column_at(value, idx)   [codegen]
  *   PartitioningHelper hash (A6)             xor_fold_hash(col, seed, n) [codegen]
  *   PartitioningTextTransform (A7)           each scan task scatters its rows by pid
  *   PartitionedContentSink (A8)              ShardSink: one file per (task, pid), first-wins rename
  *
  * Records pass through byte-for-byte: we read lines as raw text and never
  * reserialize (the reference copies records verbatim,
  * Transforms/PartitioningTextTransform.cs:60-66). Column extraction for
  * partitioning is an expression over the raw line.
  *
  * Record boundaries are every `\n` — identical to the reference's Split
  * mode (Text/TextLineParsingSink.cs). The reference's PrePartition scanner
  * alone would keep a QUOTED `\n` inside one record
  * (CsvParseTransform.cs:103-109); its own corpus never emits one
  * (templates/script.kql:3-16), and `CsvColumnAt` handles quoted newlines
  * correctly within a record — only the line source differs, documented
  * here per FIXTURES.md §3.
  *
  * Scale notes (100 TB): there is no shuffle. Each scan task writes its own
  * rows straight to one file per pid it meets, in input order — the
  * reference's copy into per-partition buffers inside one stream
  * (Transforms/PartitioningTextTransform.cs:39-76) — so the output is
  * input splits × pids present files of about split size / pids each, the
  * analogue of the reference's one blob per flush window × partition
  * (Transforms/PartitionedContentSink.cs:54-66). Filter + projection run
  * in the same task; the text scan splits at
  * `spark.sql.files.maxPartitionBytes` so a 1000-executor cluster reads
  * line-aligned splits in parallel (gzip inputs degrade to one task per file,
  * same as the reference's whole-blob download). The xor-fold hash has ≤256
  * distinct values, so a task holds at most 256 files open (a 64 KiB write
  * buffer each, plus a deflater when gzipped). A skewed column
  * (the reference inherits the same skew, SURVEY.md §7.4) makes one pid's
  * files larger, but no longer funnels that pid through one reduce task:
  * every split writes its share of the hot pid in parallel. Every file,
  * directory and marker goes through [[ShardSink.fileSystem]], so a local
  * run sets each mode in-process instead of starting a `chmod` process
  * per file and directory (Hadoop without its native library): with
  * 64 pids that was 98 process starts a run, whose waits at one core
  * took longer than the rest of the task.
  */
object PrePartition {

  /** Annotate raw lines with their partition id. Null pid = the row's
    * extracted field doesn't exist (reference: such records get no partition
    * id and are dropped from partitioned output, CsvParseTransform.cs:103-109).
    */
  def withPartitionId(lines: DataFrame, cfg: PartitionConfig): DataFrame = {
    val field = GraftFunctions.csvColumnAt(col("value"), cfg.columnIndex)
    lines.withColumn("pid",
      when(field.isNotNull,
        GraftFunctions.xorFoldHash(field, cfg.seed, cfg.maxPartitionCount))
        .otherwise(lit(null)))
  }

  /** Full batch pipeline: read text (codec inferred per file) → pid →
    * partitioned write under one root. No shuffle, verbatim bytes; the
    * one-root case of [[runSpread]].
    */
  def run(spark: SparkSession, inputGlob: String, outputDir: String,
          cfg: PartitionConfig, gzipOutput: Boolean = false,
          suffix: Option[String] = None): Unit =
    runSpread(spark, inputGlob, Seq(outputDir), cfg, gzipOutput, suffix)

  /** Multi-container output spread (reference: PartitionedContentSink
    * round-robins each flush-window×partition blob across the Kusto
    * staging containers, Transforms/PartitionedContentSink.cs:54-66, and
    * Text/TextKustoSink.cs:28-30): partition `pid` writes under
    * `roots(pid % N)/pid=<pid>/`. Users with per-account throttling
    * spread ingest load this way; one root is the plain staging write.
    * Returns the records and bytes written per pid.
    */
  def runSpread(spark: SparkSession, inputGlob: String,
                roots: Seq[String], cfg: PartitionConfig,
                gzipOutput: Boolean = false,
                suffix: Option[String] = None): Map[Int, PidWritten] = {
    val lines = graft.sources.Readers.textLines(spark, inputGlob, suffix)
    overwrite(withPartitionId(lines, cfg), roots, gzipOutput)
  }

  /** Records and payload bytes (before compression) written for one pid. */
  final case class PidWritten(records: Long, bytes: Long) {
    def +(o: PidWritten): PidWritten = PidWritten(records + o.records, bytes + o.bytes)
  }

  /** Job-level overwrite of the spread write: clear every root's `pid=`
    * dirs, write, then mark each root with `_SUCCESS` (the file Spark's
    * committer leaves after a completed job). Returns what each pid got.
    */
  private[graft] def overwrite(withPid: DataFrame, roots: Seq[String],
                               gzipOutput: Boolean): Map[Int, PidWritten] = {
    require(roots.nonEmpty, "need at least one root")
    val hconf = withPid.sparkSession.sparkContext.hadoopConfiguration
    val paths = roots.map(new org.apache.hadoop.fs.Path(_))
    paths.foreach { p =>
      val fs = ShardSink.fileSystem(p, hconf)
      if (fs.exists(p))
        fs.listStatus(p).map(_.getPath)
          .filter(c => c.getName.startsWith("pid=") || c.getName == "_SUCCESS")
          .foreach(fs.delete(_, true))
    }
    val written = writeSpread(withPid, roots.toIndexedSeq, gzipOutput)
    paths.foreach { p =>
      ShardSink.fileSystem(p, hconf).create(new org.apache.hadoop.fs.Path(p, "_SUCCESS"), true).close()
    }
    written
  }

  /** The spread writer: each task writes the rows annotated with `pid`, in
    * input order, to `roots(pid % N)/pid=<pid>/part-<sparkPartitionId>.txt[.gz]`
    * through the first-wins [[ShardSink]] commit. No shuffle: the task holds
    * one open file per pid it meets, and the xor-fold has at most 256
    * values (HashUtil.xorFold), so it never evicts one. Lines travel as
    * their raw bytes, never decoded. Returns the records and bytes written
    * per pid.
    */
  private[graft] def writeSpread(withPid: DataFrame, roots: IndexedSeq[String],
                                 gzipOutput: Boolean): Map[Int, PidWritten] = {
    val spark = withPid.sparkSession
    import spark.implicits._
    val ext = if (gzipOutput) ".txt.gz" else ".txt"
    val rows = withPid
      .filter(col("pid").isNotNull)
      .select(col("pid").cast("int"), concat(col("value"), lit("\n")).cast("binary"))
      .as[(Int, Array[Byte])]
    ShardSink.write(rows, gzipOutput, maxOpen = 256)(_._1)(
      dest = pid =>
        s"${roots(pid % roots.length)}/pid=$pid/part-${org.apache.spark.TaskContext.getPartitionId()}$ext",
      bytes = _._2)
      .map(s => Map(s.key -> PidWritten(s.records, s.bytes)))
      // one action for the per-pid counts; fold's zero (unlike reduce)
      // survives an empty input, whose plan can have zero partitions
      .fold(Map.empty[Int, PidWritten])(merge)
  }

  private def merge(a: Map[Int, PidWritten], b: Map[Int, PidWritten]): Map[Int, PidWritten] =
    b.foldLeft(a) { case (m, (pid, w)) => m.updated(pid, m.get(pid).fold(w)(_ + w)) }

  /** A5's PartitionValueSamples: one witness value of the extracted column
    * per partition id (deterministic: min). The reference computes a
    * first-seen sample per pid and carries it to the sink, where it sits
    * unused (PartitionedContentSink.cs:20,59 — stored, never read); we
    * expose it as a queryable frame instead of dead plumbing.
    */
  def partitionSamples(lines: DataFrame, cfg: PartitionConfig): DataFrame = {
    val field = GraftFunctions.csvColumnAt(col("value"), cfg.columnIndex)
    withPartitionId(lines, cfg)
      .filter(col("pid").isNotNull)
      .withColumn("field", field)
      .groupBy("pid")
      .agg(min(col("field")).as("partition_value_sample"),
        count(lit(1)).as("n_records"))
      .orderBy("pid")
  }

  /** The B7-style validation frame over pipeline output: parse the verbatim
    * CSV lines back to typed columns (reference validation:
    * code/IntegrationTests/Text/NoHeaderNoCompressionTest.cs:20-38).
    */
  def validationFrame(spark: SparkSession, stagingDir: String): DataFrame = {
    val lines = spark.read.text(stagingDir)
    lines.select(
      GraftFunctions.csvColumnAt(col("value"), 0).cast("long").as("Id"),
      GraftFunctions.csvColumnAt(col("value"), 1).cast("timestamp").as("Timestamp"),
      GraftFunctions.csvColumnAt(col("value"), 2).as("Level"))
  }

  /** Cardinality-conservation invariants (RowCount == distinct Id ==
    * distinct Timestamp; 3 levels) as a single-row frame — the reference's
    * correctness contract (NoHeaderNoCompressionTest.cs:46-50).
    */
  def invariants(validation: DataFrame): DataFrame =
    validation.agg(
      count(lit(1)).as("RowCount"),
      countDistinct(col("Id")).as("IdCardinality"),
      countDistinct(col("Timestamp")).as("TimestampCardinality"),
      countDistinct(col("Level")).as("LevelCardinality"))
}

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
  *   PartitioningTextTransform (A7)           repartition(n, $"pid")  — hash shuffle
  *   PartitionedContentSink (A8)              ShardSink: one file per pid, first-wins rename
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
  * Scale notes (100 TB): the only shuffle is the single hash exchange on
  * `pid`, which is exactly the data movement the operation *means*. Filter +
  * projection happen before the exchange; the text scan splits at
  * `spark.sql.files.maxPartitionBytes` so a 1000-executor cluster reads
  * line-aligned splits in parallel (gzip inputs degrade to one task per file,
  * same as the reference's whole-blob download). The xor-fold hash has ≤256
  * distinct values — with maxPartitionCount > 256 or a skewed column the
  * exchange is skewed (reference inherits the same skew, SURVEY.md §7.4), and
  * nothing on the write side splits it: AQE never splits or coalesces a
  * `repartition(n, col)` exchange, so each pid is one reduce task's file.
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
    * partitioned write under one root. One shuffle, verbatim bytes; the
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
    */
  def runSpread(spark: SparkSession, inputGlob: String,
                roots: Seq[String], cfg: PartitionConfig,
                gzipOutput: Boolean = false,
                suffix: Option[String] = None): Unit = {
    val lines = graft.sources.Readers.textLines(spark, inputGlob, suffix)
    overwrite(withPartitionId(lines, cfg), roots, cfg, gzipOutput)
  }

  /** Job-level overwrite of the spread write: clear every root's `pid=`
    * dirs, write, then mark each root with `_SUCCESS` (the file Spark's
    * committer leaves after a completed job). Returns records written.
    */
  private[graft] def overwrite(withPid: DataFrame, roots: Seq[String],
                               cfg: PartitionConfig, gzipOutput: Boolean): Long = {
    require(roots.nonEmpty, "need at least one root")
    val hconf = withPid.sparkSession.sparkContext.hadoopConfiguration
    val paths = roots.map(new org.apache.hadoop.fs.Path(_))
    paths.foreach { p =>
      val fs = p.getFileSystem(hconf)
      if (fs.exists(p))
        fs.listStatus(p).map(_.getPath)
          .filter(c => c.getName.startsWith("pid=") || c.getName == "_SUCCESS")
          .foreach(fs.delete(_, true))
    }
    val n = writeSpread(withPid, roots.toIndexedSeq, cfg.maxPartitionCount, gzipOutput)
    paths.foreach { p =>
      p.getFileSystem(hconf).create(new org.apache.hadoop.fs.Path(p, "_SUCCESS"), true).close()
    }
    n
  }

  /** The spread writer: rows annotated with `pid` land under
    * `roots(pid % N)/pid=<pid>/part-<sparkPartitionId>.txt[.gz]` through
    * the first-wins [[ShardSink]] commit. One shuffle on pid; the pid sort
    * makes each pid's lines one contiguous run, so one file per pid and
    * reduce task. Lines travel as their raw bytes, never decoded. Returns
    * records written.
    */
  private[graft] def writeSpread(withPid: DataFrame, roots: IndexedSeq[String],
                                 nPartitions: Int, gzipOutput: Boolean): Long = {
    val spark = withPid.sparkSession
    import spark.implicits._
    val ext = if (gzipOutput) ".txt.gz" else ".txt"
    val rows = withPid
      .filter(col("pid").isNotNull)
      .select(col("pid").cast("int").as("pid"), col("value"))
      .repartition(nPartitions, col("pid"))
      .sortWithinPartitions("pid")
      .select(col("pid"), concat(col("value"), lit("\n")).cast("binary"))
      .as[(Int, Array[Byte])]
    ShardSink.write(rows, gzipOutput)(_._1)(
      dest = pid =>
        s"${roots(pid % roots.length)}/pid=$pid/part-${org.apache.spark.TaskContext.getPartitionId()}$ext",
      bytes = _._2)
      // per-file counts are a few longs a task; collect().sum (unlike
      // reduce) survives an empty input, whose plan can have zero partitions
      .map(_.records).collect().sum
  }

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

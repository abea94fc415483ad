package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout: Z-order (Morton-curve) clustering keys.
  *
  * A table range-partitioned + sorted by a Z-order key over two bucketed
  * dimensions keeps rows close in BOTH dimensions physically co-located,
  * so min/max footer stats prune scans for predicates on EITHER dimension
  * — the standard layout trick (Delta/Iceberg OPTIMIZE ZORDER) for 100 TB
  * fact tables queried by more than one column. The key computation is
  * pure bit arithmetic on built-in expressions (shift/and/or), fully
  * inside WholeStageCodegen; the write path is the existing
  * `repartitionByRange(zkey).sortWithinPartitions(zkey)` + parquet, which
  * is Spark's sampled range partitioner — no single-partition sort.
  */
object Layout {

  /** Size-derived partition count for a frame that is about to be cached
    * or checkpointed and then RESCANNED (per round / per sweep cell):
    * n = clamp(ceil(sizeInBytes / 4 MB), 1, shuffle.partitions).
    * At cluster scale the estimate exceeds the cap and the layout is
    * unchanged; only provably-small frames shrink, so per-scan task
    * count stops being the session parallelism for 50 KB frames (r21 —
    * the measurements are in Graph's header). 4 MB is the measured r21
    * break-even for rescanned frames, far below the 128 MB scan
    * heuristic because every round pays the per-task overhead again.
    */
  private[graft] def sizedParts(df: DataFrame): Int = {
    val cap = df.sparkSession.sessionState.conf.numShufflePartitions
    val bytesPerTask = 4L << 20
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val n = (est + bytesPerTask - 1) / bytesPerTask
    if (n >= cap) cap else math.max(1, n.toInt)
  }

  /** `coalesce` to the size-derived count — no exchange at any scale. */
  private[graft] def sizedCoalesce(df: DataFrame): DataFrame =
    df.coalesce(sizedParts(df))

  /** Spread the low 16 bits of `c` to the even bit positions of a 32-bit
    * value (Morton spread, the classic shift-or-mask chain).
    */
  def spread16(c: Column): Column = {
    val m0 = c.cast("long").bitwiseAND(lit(0xFFFFL))
    val m1 = m0.bitwiseOR(shiftleft(m0, 8)).bitwiseAND(lit(0x00FF00FFL))
    val m2 = m1.bitwiseOR(shiftleft(m1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val m3 = m2.bitwiseOR(shiftleft(m2, 2)).bitwiseAND(lit(0x33333333L))
    m3.bitwiseOR(shiftleft(m3, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** Z-order key interleaving two 16-bit dimensions: bits of `a` land on
    * even positions, bits of `b` on odd — equal prefixes = spatial
    * proximity in both dimensions.
    */
  def zkey2(a: Column, b: Column): Column =
    spread16(a).bitwiseOR(shiftleft(spread16(b), 1))

  /** Cluster `df` by the Z-order of two (pre-bucketed, 16-bit) dimension
    * columns: range-partition on the key, sort within partitions — the
    * physical layout a downstream parquet write preserves.
    */
  def zorderBy(df: DataFrame, a: Column, b: Column,
               partitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val p = if (partitions > 0) partitions
      else spark.sessionState.conf.numShufflePartitions
    df.withColumn("zkey", zkey2(a, b))
      .repartitionByRange(p, col("zkey"))
      .sortWithinPartitions("zkey")
  }

  /** Compact a parquet directory to ~`targetBytes` output files — the
    * small-files maintenance pass every long-lived 100 TB table needs
    * (streaming sinks and per-partition writers leave thousands of tiny
    * files; scan cost then goes by FILE COUNT — open/footer/seek — not
    * bytes). File count is sized from the parquet dirs actual on-disk
    * bytes (not row estimates, which mis-size compressed columnar data),
    * then one round-robin `repartition(n)` rewrite. Optionally passes
    * `sortCols` to sort within the new files so footer min/max stats
    * stay selective after compaction (a plain repartition would shuffle
    * rows randomly and DESTROY the pruning a sorted layout gave — the
    * classic compaction mistake). Returns the output file count.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, inDir: String,
              outDir: String, targetBytes: Long = 128L * 1024 * 1024,
              sortCols: Seq[String] = Nil): Int = {
    val fs = new org.apache.hadoop.fs.Path(inDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // overwrite deletes outDir before the lazy input scan runs — writing
    // into (or over) the source would destroy it. Resolve both and refuse.
    val inQ = fs.makeQualified(new org.apache.hadoop.fs.Path(inDir)).toUri
    val outQ = fs.makeQualified(new org.apache.hadoop.fs.Path(outDir)).toUri
    val inP = inQ.getPath.stripSuffix("/") + "/"
    val outP = outQ.getPath.stripSuffix("/") + "/"
    require(inQ.getScheme != outQ.getScheme || inQ.getAuthority != outQ.getAuthority ||
        (!outP.startsWith(inP) && !inP.startsWith(outP)),
      s"compact: output $outDir must not equal or nest with input $inDir " +
        "(overwrite would delete the source before it is read)")
    val totalBytes = fs.getContentSummary(
      new org.apache.hadoop.fs.Path(inDir)).getLength
    val n = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val df = spark.read.parquet(inDir)
    val laid =
      if (sortCols.nonEmpty)
        df.repartitionByRange(n, sortCols.map(col): _*)
          .sortWithinPartitions(sortCols.map(col): _*)
      else df.repartition(n)
    laid.write.mode("overwrite").parquet(outDir)
    fs.listStatus(new org.apache.hadoop.fs.Path(outDir))
      .count(s => s.getPath.getName.endsWith(".parquet"))
  }
}

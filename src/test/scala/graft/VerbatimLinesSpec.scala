package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.operators.Split
import graft.operators.Split.SplitConfig
import graft.sources.Readers
import graft.streaming.NotifyQueue
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

/** Records are copied verbatim, never re-encoded: every read path that
  * bypasses Spark's text source keeps a line's bytes as they are, even
  * where they are not UTF-8 (a Latin-1 `é`, a stray UTF-16 mark).
  */
class VerbatimLinesSpec extends GraftSparkSpec {

  private lazy val tmp = Files.createTempDirectory("graft-verbatim").toString

  private def bytes(hex: String): Array[Byte] =
    hex.split(" ").map(Integer.parseInt(_, 16).toByte)

  // header, a Latin-1 line, a UTF-16 mark mid-line, valid UTF-8, ASCII
  private val input: Array[Byte] = Seq(
    bytes("68 e9 61 64"), bytes("61 e9 62 ff fe 63"), bytes("ff fe 78"),
    "café".getBytes("UTF-8"), "plain".getBytes("UTF-8"))
    .flatMap(_ :+ '\n'.toByte).toArray

  private def hex(b: Seq[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString(" ")

  private def assertVerbatim(what: String, out: Seq[Byte]): Unit =
    assert(hex(out) == hex(input.toSeq), s"$what re-encoded its lines")

  private def lineBytes(df: DataFrame): Seq[Byte] =
    df.select(col("value").cast("binary")).collect().toSeq
      .flatMap(_.getAs[Array[Byte]](0) :+ '\n'.toByte)

  private def write(path: String, wrap: java.io.OutputStream => java.io.OutputStream): Unit = {
    val out = wrap(new java.io.FileOutputStream(path))
    try out.write(input) finally out.close()
  }

  private def gunzip(path: String): Seq[Byte] = {
    val in = new java.util.zip.GZIPInputStream(new java.io.FileInputStream(path))
    try in.readAllBytes().toSeq finally in.close()
  }

  test("non-UTF-8 bytes pass verbatim through Split, zip, zstd and the notify source") {
    // Split, plain and gzip input, each with its header carried to the shard
    val land = s"$tmp/land"
    new java.io.File(land).mkdirs()
    write(s"$land/p.txt", identity)
    write(s"$land/g.txt.gz", new java.util.zip.GZIPOutputStream(_))
    Split.run(spark, s"$land/p.txt", s"$tmp/split-plain", SplitConfig(hasHeader = true))
    assertVerbatim("Split (plain)", Files.readAllBytes(Paths.get(s"$tmp/split-plain/p-00000.txt")).toSeq)
    Split.run(spark, s"$land/g.txt.gz", s"$tmp/split-gz",
      SplitConfig(hasHeader = true, gzipOutput = true))
    assertVerbatim("Split (gzip)", gunzip(s"$tmp/split-gz/g-00000.txt.gz"))
    assertVerbatim("Split.linesWithOffsets",
      lineBytes(Split.linesWithOffsets(spark, s"$land/p.txt", 1L << 20).orderBy("offset")))

    // the first entry of a zip archive
    val zip = s"$tmp/z.zip"
    val zout = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(zip))
    try { zout.putNextEntry(new java.util.zip.ZipEntry("a.txt")); zout.write(input) }
    finally zout.close()
    assertVerbatim("zipFirstEntryLines", lineBytes(Readers.zipFirstEntryLines(spark, zip)))

    // a zstd blob
    write(s"$tmp/z.zst", new com.github.luben.zstd.ZstdOutputStream(_))
    assertVerbatim("zstdLines", lineBytes(Readers.zstdLines(spark, s"$tmp/z.zst")))

    // notified blobs, plain and gzip: each one's lines arrive in order
    val queue = s"$tmp/queue"
    val s0 = NotifyQueue.publish(spark, queue, Seq(s"$land/p.txt"))
    NotifyQueue.publish(spark, queue, Seq(s"$land/g.txt.gz"), seqHint = s0 + 1)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Byte]]()
    spark.readStream.format("graft-notify").option("queueDir", queue).load()
      .writeStream
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) => seen.add(lineBytes(batch)); () }
      .start().awaitTermination()
    val out = seen.iterator().asScala.toSeq.flatten
    assert(out.length == 2 * input.length, s"expected both blobs, got ${out.length} bytes")
    assertVerbatim("graft-notify", out.take(input.length))
    assertVerbatim("graft-notify", out.drop(input.length))
  }
}

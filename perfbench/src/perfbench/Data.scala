package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.Platform

/** Plain-JVM helpers for the output checks: they read the files the
  * program wrote without going through the program's own code.
  */
object Data {

  /** Calls `f(bytes, start, length)` for every `\n`-terminated line. */
  def lines(bytes: Array[Byte])(f: (Array[Byte], Int, Int) => Unit): Unit = {
    var start = 0
    var i = 0
    while (i < bytes.length) {
      if (bytes(i) == '\n') { f(bytes, start, i - start); start = i + 1 }
      i += 1
    }
    if (start < bytes.length) f(bytes, start, bytes.length - start)
  }

  def read(p: Path): Array[Byte] = {
    val raw = Files.readAllBytes(p)
    if (p.getFileName.toString.endsWith(".gz"))
      new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(raw)).readAllBytes()
    else raw
  }

  def hash(b: Array[Byte], start: Int, len: Int): Long =
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET + start, len, 42L)

  /** Byte range of the `k`-th comma-separated field of a line. */
  def field(b: Array[Byte], start: Int, len: Int, k: Int): (Int, Int) = {
    var s = start
    var n = 0
    val end = start + len
    while (n < k) {
      while (s < end && b(s) != ',') s += 1
      s += 1; n += 1
    }
    var e = s
    while (e < end && b(e) != ',') e += 1
    (s, e - s)
  }

  /** The reference partition function, written out independently of the
    * program's kernel: seed XOR every byte, modulo the partition count.
    */
  def xorFoldPid(b: Array[Byte], start: Int, len: Int, seed: Int, n: Int): Int = {
    var h = seed
    var i = start
    while (i < start + len) { h ^= (b(i) & 0xff); i += 1 }
    h % n
  }

  /** Row count and wrapping sum of line hashes: order-independent, and
    * moved by any dropped, duplicated or altered line.
    */
  final case class Digest(count: Long, sum: Long) {
    def +(o: Digest): Digest = Digest(count + o.count, sum + o.sum)
  }
  val Empty = Digest(0, 0)

  def files(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_)).toSeq.sortBy(_.toString)

  /** Data files of a Spark output directory: no markers, checksums or
    * metadata directories (`_manifest`, `_batch_manifest`).
    */
  def parts(dir: Path): Seq[Path] = files(dir).filter { p =>
    dir.relativize(p).iterator().asScala.forall { c =>
      val n = c.toString
      !n.startsWith(".") && !n.startsWith("_")
    }
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }

  /** The self-test's corruption of a written output: drop or duplicate
    * the first line of `p`.
    */
  def mutate(kind: String, p: Path): Unit = {
    val bytes = Files.readAllBytes(p)
    val nl = bytes.indexOf('\n'.toByte)
    val first = bytes.take(nl + 1)
    val out = kind match {
      case "drop" => bytes.drop(nl + 1)
      case "dup" => first ++ bytes
      case other => throw new IllegalArgumentException(s"unknown mutation $other")
    }
    Files.write(p, out)
  }

  /** Writes `LogDataGenerator` rows as headerless CSV files named
    * `prefix-00000.ext`: one file per generator partition (`files` of
    * them, written in parallel), or, with `linesPerFile`, the same rows
    * cut into files of that many lines.
    */
  def writeCsv(spark: SparkSession, rows: Long, seed: Long, dir: Path, prefix: String,
               ext: String, files: Int, gzip: Boolean,
               linesPerFile: Option[Long] = None): Seq[Path] = {
    import graft.sources.LogDataGenerator
    deleteTree(dir)
    val tmp = dir.resolveSibling(dir.getFileName.toString + ".tmp")
    deleteTree(tmp)
    val w = LogDataGenerator.toCsvLines(
      LogDataGenerator.generate(spark, rows, seed, numPartitions = files)).write
    (if (gzip) w.option("compression", "gzip") else w).text(tmp.toString)
    Files.createDirectories(dir)
    val generated = parts(tmp).sortBy(_.getFileName.toString)
    def name(i: Int) = dir.resolve(f"$prefix-$i%05d$ext")
    val out = linesPerFile match {
      case None => generated.zipWithIndex.map { case (p, i) => Files.move(p, name(i)); name(i) }
      case Some(per) =>
        require(!gzip, "cutting into files is for plain text")
        val out = scala.collection.mutable.ArrayBuffer.empty[Path]
        var sink: java.io.OutputStream = null
        var n = 0L
        generated.foreach { p =>
          lines(Files.readAllBytes(p)) { (b, s, l) =>
            if (sink == null || n == per) {
              if (sink != null) sink.close()
              out += name(out.size)
              sink = new java.io.BufferedOutputStream(Files.newOutputStream(out.last))
              n = 0
            }
            sink.write(b, s, l); sink.write('\n'); n += 1
          }
        }
        if (sink != null) sink.close()
        out.toSeq
    }
    deleteTree(tmp)
    out
  }
}

package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import graft.operators.{NioRawLocalFileSystem, PartitionConfig, PrePartition, ShardSink, Split}
import graft.sources.{LogDataGenerator, WarcSource}
import org.apache.hadoop.fs.{FSDataOutputStream, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Local filesystem under the `failfs:` scheme whose `_tmp*` output
  * streams throw once they pass `FailingFs.LimitBytes`: a task that dies
  * mid-shard, the way an executor's disk or network write fails.
  */
class FailingFs extends RawLocalFileSystem {
  override def getScheme: String = "failfs"
  override def getUri: URI = URI.create("failfs:///")
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    failing(f, super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    failing(f, super.create(f, overwrite, bufferSize, replication, blockSize, progress))

  private def failing(f: Path, inner: FSDataOutputStream): FSDataOutputStream =
    if (!f.getName.startsWith("_tmp")) inner
    else new FSDataOutputStream(new java.io.FilterOutputStream(inner) {
      private var n = 0L
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        n += len
        if (n > FailingFs.LimitBytes)
          throw new java.io.IOException(s"injected write failure in $f")
        out.write(b, off, len)
      }
      override def write(b: Int): Unit = write(Array(b.toByte), 0, 1)
    }, statistics)
}

object FailingFs { val LimitBytes = 4096L }

/** The shared exactly-once file sink, directly and seen from its three callers:
  * PrePartition (through the spread writer), Split and the WET writer.
  */
class ShardSinkSpec extends GraftSparkSpec {

  private lazy val tmp = Files.createTempDirectory("graft-shardsink").toString

  // 20k lines (~2 MB) in two files: every file any sink writes passes the
  // 64 KiB write buffer, so an injected failure lands mid-shard
  private lazy val landing = {
    val dir = s"$tmp/landing"
    LogDataGenerator.toCsvLines(LogDataGenerator.generate(spark, 20000, seed = 9))
      .coalesce(2).write.mode("overwrite").text(dir)
    s"$dir/*.txt"
  }

  private lazy val docs = {
    import spark.implicits._
    (0 until 400).map(i => (i.toLong, s"host${i % 3}.example",
        Seq.fill(100)(java.util.UUID.randomUUID().toString).mkString(" ")))
      .toDF("doc_id", "source", "text")
  }

  /** Each sink, writing under a root directory URI. */
  private val sinks: Seq[(String, String => Unit)] = Seq(
    "PrePartition" -> (root => PrePartition.runSpread(spark, landing,
      Seq(s"$root/a", s"$root/b"), PartitionConfig(3, 4, 17))),
    "Split" -> (root => { Split.run(spark, landing, root,
      Split.SplitConfig(maxBytesPerShard = 256 * 1024)); () }),
    "WET" -> (root => { WarcSource.writeWet(docs, root, 2); () }))

  private def filesUnder(root: String): Seq[java.io.File] =
    if (!new java.io.File(root).exists()) Nil
    else Files.walk(java.nio.file.Paths.get(root)).iterator().asScala
      .map(_.toFile).filter(_.isFile).toSeq

  private def causedBy(e: Throwable, message: String): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains(message))

  sinks.foreach { case (name, write) =>
    test(s"a task that fails mid-shard leaves no tmp file: $name") {
      val hconf = spark.sparkContext.hadoopConfiguration
      hconf.set("fs.failfs.impl", classOf[FailingFs].getName)
      hconf.setBoolean("fs.failfs.impl.disable.cache", true)
      val root = s"$tmp/fail-$name"
      assert(landing.nonEmpty) // the input is written outside the failing group
      // the job fails at the first task failure; the rest are killed and
      // clean up as they stop, before inJobGroup returns
      val (result, _) = inJobGroup(write(s"failfs://$root"))
      assert(result.failed.toOption.exists(causedBy(_, "injected write failure")))
      val leftover = filesUnder(root).map(_.getName).filter(_.startsWith("_tmp"))
      assert(leftover.isEmpty, s"orphan tmp files: ${leftover.mkString(", ")}")
    }
  }

  sinks.foreach { case (name, write) =>
    test(s"the sink's file bytes reach Spark's output metrics: $name") {
      val root = s"$tmp/metrics-$name"
      assert(landing.nonEmpty) // the input is written outside the group
      val (result, run) = inJobGroup(write(root))
      result.get
      val bytes = run.taskEnds.filter(_.taskMetrics != null)
        .map(_.taskMetrics.outputMetrics.bytesWritten).sum
      // every file written, the Split manifest's parquet segments included;
      // not the local file system's .crc sidecars or the _SUCCESS markers
      val onDisk = filesUnder(root)
        .filterNot(f => f.getName.startsWith(".") || f.getName == "_SUCCESS")
      assert(onDisk.nonEmpty)
      assert(bytes == onDisk.map(_.length).sum)
    }
  }

  test("a local PrePartition run starts no process") {
    // the real path: a forked command names the canonical one
    val root = Paths.get(tmp).toRealPath().resolve("nofork").toString
    assert(landing.nonEmpty) // the input is written before the recording
    val commands = processStartsNaming(root) {
      PrePartition.runSpread(spark, landing, Seq(s"$root/a", s"$root/b"), PartitionConfig(3, 4, 17))
    }
    assert(filesUnder(root).exists(_.getName.startsWith("part-")))
    assert(commands == Seq(s"true $root/control"))
  }

  test("the resolver: local paths get the NIO-backed file system, with Hadoop's modes") {
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set("fs.failfs.impl", classOf[FailingFs].getName)
    hconf.setBoolean("fs.failfs.impl.disable.cache", true)
    val root = s"$tmp/modes"
    val nio = ShardSink.fileSystem(new Path(root), hconf)
    assert(nio.asInstanceOf[LocalFileSystem].getRawFileSystem.isInstanceOf[NioRawLocalFileSystem])
    assert(ShardSink.fileSystem(new Path(s"file://$root"), hconf) eq nio)
    assert(ShardSink.fileSystem(new Path(s"failfs://$root"), hconf).isInstanceOf[FailingFs])
    // a file (its parent made on the way, and its .crc), a directory, and
    // a mode set after the fact, under each file system
    def modes(fs: FileSystem, sub: String): Seq[String] = {
      fs.create(new Path(s"$root/$sub/made/f.txt"), true).close()
      fs.mkdirs(new Path(s"$root/$sub/dir"))
      fs.create(new Path(s"$root/$sub/g.txt"), true).close()
      fs.setPermission(new Path(s"$root/$sub/g.txt"), new FsPermission(Integer.parseInt("640", 8).toShort))
      Seq("made", "made/f.txt", "made/.f.txt.crc", "dir", "g.txt").map { p =>
        p + " " + PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(s"$root/$sub/$p")))
      }
    }
    assert(modes(nio, "nio") == modes(new Path(root).getFileSystem(hconf), "hadoop"))
    // the first-wins commit's contract: a rename never replaces a file
    val (first, second) = (new Path(s"$root/nio/first"), new Path(s"$root/nio/second"))
    Seq(first, second).foreach { p =>
      val out = nio.create(p, true)
      try out.write(p.getName.getBytes("UTF-8")) finally out.close()
    }
    assert(!nio.rename(second, first))
    assert(new String(Files.readAllBytes(Paths.get(first.toString)), "UTF-8") == "first")
  }

  test("a key that comes back after its file was committed fails the task") {
    import spark.implicits._
    // one task; each key's file is committed when it is the oldest open
    // file and a new key arrives
    def rootOf(keys: Seq[Int], maxOpen: Int) = s"$tmp/reappear-${keys.mkString}-$maxOpen"
    def write(keys: Seq[Int], maxOpen: Int): String = {
      val root = rootOf(keys, maxOpen)
      ShardSink.write(keys.zipWithIndex.toDS().coalesce(1), gzip = false, maxOpen)(_._1)(
        dest = k => s"$root/k$k.txt", bytes = r => s"${r._2}\n".getBytes("UTF-8"))
        .collect()
      root
    }
    def contents(root: String): Map[String, String] =
      filesUnder(root).filterNot(_.getName.startsWith("."))
        .map(f => f.getName -> new String(Files.readAllBytes(f.toPath), "UTF-8")).toMap
    Seq((Seq(0, 1, 0), 1), (Seq(0, 1, 2, 0), 2)).foreach { case (keys, maxOpen) =>
      val (result, _) = inJobGroup(write(keys, maxOpen))
      assert(result.failed.toOption.exists(causedBy(_, "came back after its file was committed")),
        s"keys $keys maxOpen $maxOpen")
      assert(!contents(rootOf(keys, maxOpen)).keys.exists(_.startsWith("_tmp")))
    }
    // with room for every key, rows keep their order within each file
    assert(contents(write(Seq(0, 1, 2, 0), 3)) ==
      Map("k0.txt" -> "0\n3\n", "k1.txt" -> "1\n", "k2.txt" -> "2\n"))
  }
}

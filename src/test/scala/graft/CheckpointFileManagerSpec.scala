package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import graft.operators.PartitionConfig
import graft.sources.LogDataGenerator
import graft.streaming.{GraftCheckpointFileManager, StreamingPrePartition}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.streaming.Trigger

/** The checkpoint file manager every graft streaming query writes its
  * checkpoint through: the log-entry contract Spark's metadata logs rely
  * on, the choice of manager per scheme, restart from a checkpoint Spark's
  * default manager wrote, and a local streaming run that starts no process.
  */
class CheckpointFileManagerSpec extends GraftSparkSpec {

  // the real path: a forked command names the canonical one
  private lazy val tmp = Files.createTempDirectory("graft-ckptfm").toRealPath().toString

  private val managerKey = "spark.sql.streaming.checkpointFileManagerClass"
  private val cfg = PartitionConfig(columnIndex = 3, maxPartitionCount = 4, seed = 17)

  private def manager(dir: String): GraftCheckpointFileManager =
    new GraftCheckpointFileManager(new Path(dir), spark.sparkContext.hadoopConfiguration)

  private def write(fm: CheckpointFileManager, p: Path, text: String,
                    overwriteIfPossible: Boolean = false): Unit = {
    val out = fm.createAtomic(p, overwriteIfPossible)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def bytes(p: String): Seq[Byte] = Files.readAllBytes(Paths.get(p)).toSeq

  private def names(dir: String): Set[String] =
    Option(new java.io.File(dir).list()).map(_.toSet).getOrElse(Set.empty)

  /** Lands `n` generated CSV lines as `dir/name`, renamed into place so the
    * file source never lists a partial file; plain `java.nio`, so landing
    * starts no process. */
  private def land(dir: String, name: String, n: Long, seed: Long): Unit = {
    val lines = LogDataGenerator.toCsvLines(LogDataGenerator.generate(spark, n, seed = seed))
      .collect().map(_.getString(0))
    Files.createDirectories(Paths.get(dir))
    val part = Paths.get(dir, s"_$name")
    Files.write(part, lines.toSeq.asJava, UTF_8)
    Files.move(part, Paths.get(dir, name), StandardCopyOption.ATOMIC_MOVE)
  }

  private def stream(root: String): org.apache.spark.sql.streaming.StreamingQuery =
    StreamingPrePartition.start(spark, s"$root/landing", s"$root/staging", s"$root/ckpt", cfg,
      trigger = Trigger.ProcessingTime("200 milliseconds"))

  private def staged(root: String): Long = spark.read.text(s"$root/staging/data").count()

  test("an entry that exists is never replaced by a non-overwriting write") {
    val dir = s"$tmp/refuse"
    val fm = manager(dir)
    val entry = new Path(s"$dir/0")
    write(fm, entry, "v1")
    val (data, crc) = (bytes(s"$dir/0"), bytes(s"$dir/.0.crc"))
    intercept[FileAlreadyExistsException](write(fm, entry, "v2, longer"))
    assert(bytes(s"$dir/0") == data && bytes(s"$dir/.0.crc") == crc)
    assert(new String(fm.open(entry).readAllBytes(), UTF_8) == "v1")
  }

  test("an overwriting write replaces the entry and its checksum, leaving no temp file") {
    val dir = s"$tmp/replace"
    val fm = manager(dir)
    val entry = new Path(s"$dir/1.delta")
    write(fm, entry, "v1")
    write(fm, entry, "v2, longer", overwriteIfPossible = true)
    assert(new String(fm.open(entry).readAllBytes(), UTF_8) == "v2, longer")
    assert(names(dir) == Set("1.delta", ".1.delta.crc"))
  }

  test("cancel leaves no temp file") {
    val dir = s"$tmp/cancel"
    val fm = manager(dir)
    val out = fm.createAtomic(new Path(s"$dir/0"), overwriteIfPossible = false)
    out.write("half an entry".getBytes(UTF_8))
    assert(names(dir).exists(_.endsWith(".tmp")))
    out.cancel()
    assert(names(dir).isEmpty)
  }

  test("a local checkpoint gets the NIO-backed manager; any other scheme Spark's default") {
    val hconf = new Configuration(spark.sparkContext.hadoopConfiguration)
    hconf.set("fs.failfs.impl", classOf[FailingFs].getName)
    hconf.setBoolean("fs.failfs.impl.disable.cache", true)
    hconf.set(managerKey, classOf[GraftCheckpointFileManager].getName)
    val default = new Configuration(hconf)
    default.unset(managerKey)
    def managed(dir: String) = CheckpointFileManager.create(new Path(dir), hconf) match {
      case fm: GraftCheckpointFileManager => fm.files
      case other => fail(s"the key did not pick the graft manager: $other")
    }
    assert(managed(s"$tmp/local").isInstanceOf[GraftCheckpointFileManager.Local])
    assert(managed(s"file://$tmp/local").isInstanceOf[GraftCheckpointFileManager.Local])
    // without the key a local path gets the FileContext-based manager
    assert(CheckpointFileManager.create(new Path(s"$tmp/local"), default)
      .isInstanceOf[FileContextBasedCheckpointFileManager])
    // failfs has no FileContext binding: Spark falls back on its FileSystem manager
    val failfs = managed(s"failfs://$tmp/remote")
    assert(failfs.getClass == classOf[FileSystemBasedCheckpointFileManager])
    assert(failfs.getClass == CheckpointFileManager.create(new Path(s"failfs://$tmp/remote"), default).getClass)
    assert(!failfs.isInstanceOf[GraftCheckpointFileManager.Local])
  }

  test("a checkpoint written under Spark's default manager restarts under the graft one") {
    val root = s"$tmp/restart"
    land(s"$root/landing", "w1.txt", 500, seed = 1)
    spark.conf.set(managerKey, classOf[FileContextBasedCheckpointFileManager].getName)
    try {
      val q1 = stream(root)
      try q1.processAllAvailable() finally q1.stop()
    } finally spark.conf.unset(managerKey)
    assert(staged(root) == 500)
    val logs = Seq("offsets", "commits", "sources/0")
    logs.foreach(log => assert(names(s"$root/ckpt/$log") == Set("0", ".0.crc"), log))

    land(s"$root/landing", "w2.txt", 300, seed = 2)
    val q2 = stream(root)
    try {
      assert(spark.conf.get(managerKey) == classOf[GraftCheckpointFileManager].getName)
      q2.processAllAvailable()
    } finally q2.stop()
    // nothing reprocessed: the second run's one batch is the second file
    assert(staged(root) == 800)
    logs.foreach(log => assert(names(s"$root/ckpt/$log") == Set("0", ".0.crc", "1", ".1.crc"), log))
    assert(names(s"$root/ckpt") == Set("metadata", ".metadata.crc", "offsets", "commits", "sources"))
  }

  test("a local multi-batch streaming PrePartition run starts no process") {
    val root = s"$tmp/nofork"
    land(s"$root/landing", "w1.txt", 400, seed = 3)
    val commands = processStartsNaming(root) {
      val q = stream(root)
      try {
        q.processAllAvailable()
        land(s"$root/landing", "w2.txt", 400, seed = 4)
        q.processAllAvailable()
      } finally q.stop()
    }
    assert(names(s"$root/ckpt/commits") == Set("0", ".0.crc", "1", ".1.crc"))
    assert(staged(root) == 800)
    assert(commands == Seq(s"true $root/control"))
  }
}

package graft

import java.net.URI
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import graft.operators.{PartitionConfig, PrePartition, Split}
import graft.sources.{LogDataGenerator, WarcSource}
import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}

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

/** The shared exactly-once file sink seen from its three callers:
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

  private def awaitNoRunningTasks(): Unit = {
    val tracker = spark.sparkContext.statusTracker
    val deadline = System.currentTimeMillis() + 60000
    while (tracker.getExecutorInfos.map(_.numRunningTasks()).sum > 0 &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
  }

  sinks.foreach { case (name, write) =>
    test(s"a task that fails mid-shard leaves no tmp file: $name") {
      val hconf = spark.sparkContext.hadoopConfiguration
      hconf.set("fs.failfs.impl", classOf[FailingFs].getName)
      hconf.setBoolean("fs.failfs.impl.disable.cache", true)
      val root = s"$tmp/fail-$name"
      val e = intercept[Exception](write(s"failfs://$root"))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("injected write failure")))
      // the job fails at the first task failure; the rest are killed
      // and clean up as they stop
      awaitNoRunningTasks()
      val leftover = filesUnder(root).map(_.getName).filter(_.startsWith("_tmp"))
      assert(leftover.isEmpty, s"orphan tmp files: ${leftover.mkString(", ")}")
    }
  }

  sinks.foreach { case (name, write) =>
    test(s"the sink's file bytes reach Spark's output metrics: $name") {
      val sc = spark.sparkContext
      val group = s"shardsink-metrics-$name"
      val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
      val jobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
      val (ended, bytes) = (new AtomicLong, new AtomicLong)
      val listener = new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit =
          if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
            j.stageIds.foreach(stages.add)
            jobs.add(j.jobId)
          }
        override def onJobEnd(j: SparkListenerJobEnd): Unit =
          if (jobs.contains(j.jobId)) ended.incrementAndGet()
        override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
          if (stages.contains(t.stageId) && t.taskMetrics != null)
            bytes.addAndGet(t.taskMetrics.outputMetrics.bytesWritten)
      }
      val root = s"$tmp/metrics-$name"
      assert(landing.nonEmpty) // the input is written outside the group
      sc.addSparkListener(listener)
      try {
        sc.setJobGroup(group, name)
        try write(root) finally sc.clearJobGroup()
        // task ends precede their job's end on the listener bus
        val deadline = System.currentTimeMillis() + 30000
        while (ended.get < jobs.size && System.currentTimeMillis() < deadline)
          Thread.sleep(20)
      } finally sc.removeSparkListener(listener)
      // every file written, the Split manifest's parquet segments included;
      // not the local file system's .crc sidecars or the _SUCCESS markers
      val onDisk = filesUnder(root)
        .filterNot(f => f.getName.startsWith(".") || f.getName == "_SUCCESS")
      assert(onDisk.nonEmpty)
      assert(bytes.get == onDisk.map(_.length).sum)
    }
  }
}

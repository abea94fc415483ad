package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd, SparkListenerTaskStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session). */
object GraftSparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(s)
    s
  }
  val sfDir = "/root/testdata/sf0.001"

  /** The jobs, stages and task ends one job group ran. */
  final case class GroupRun(jobs: Int, stages: Int, taskEnds: Seq[SparkListenerTaskEnd])
}

abstract class GraftSparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSparkSpec.spark
  def sfDir: String = GraftSparkSpec.sfDir

  /** Runs `body` as one job group and returns its outcome once every task
    * the group's jobs started has ended, killed ones included, with what a
    * listener saw of those jobs. (The status tracker is no substitute: it
    * publishes executor task counts at most every 100 ms, so it can read 0
    * running tasks while a killed task is still cleaning up.)
    */
  def inJobGroup[A](body: => A): (Try[A], GraftSparkSpec.GroupRun) = {
    val sc = spark.sparkContext
    val group = s"graft-test-${java.util.UUID.randomUUID()}"
    val marker = s"$group-marker"
    val jobs = ConcurrentHashMap.newKeySet[Int]()
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val markerJobs = ConcurrentHashMap.newKeySet[Int]()
    val markerEnded = new CountDownLatch(1)
    val started = new AtomicLong
    val ends = new ConcurrentLinkedQueue[SparkListenerTaskEnd]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => j.stageIds.foreach(stages.add); jobs.add(j.jobId)
          case `marker` => markerJobs.add(j.jobId)
          case _ =>
        }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        if (markerJobs.contains(j.jobId)) markerEnded.countDown()
      override def onTaskStart(t: SparkListenerTaskStart): Unit =
        if (stages.contains(t.stageId)) started.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (stages.contains(t.stageId)) ends.add(t)
    }
    def inGroup[B](id: String)(b: => B): B = {
      sc.setJobGroup(id, id)
      try b finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      val result = inGroup(group)(Try(body))
      // the bus delivers in order: once the marker job's end arrives, so
      // has every job and task start of the group; a killed task's end
      // follows its clean-up
      inGroup(marker)(sc.parallelize(Seq(0), 1).count())
      markerEnded.await(60, TimeUnit.SECONDS)
      val deadline = System.currentTimeMillis() + 60000
      while (ends.size < started.get && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      (result, GraftSparkSpec.GroupRun(jobs.size, stages.size, ends.asScala.toSeq))
    } finally sc.removeSparkListener(listener)
  }

  /** Runs `body`, then starts `true <root>/control`, under an in-process
    * flight recording of `jdk.ProcessStart`, and returns the recorded
    * commands that name `root` (the control's included: it shows the
    * recording saw this JVM's starts). A forked command names a path by
    * its canonical form, so `root` should be a real path.
    */
  def processStartsNaming(root: String)(body: => Unit): Seq[String] = {
    val recording = new jdk.jfr.Recording()
    recording.enable("jdk.ProcessStart")
    recording.start()
    val dump = java.nio.file.Files.createTempFile("graft-starts", ".jfr")
    try {
      body
      new ProcessBuilder("true", s"$root/control").start().waitFor()
      recording.stop()
      recording.dump(dump)
    } finally recording.close()
    jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.toSeq
      .map(_.getString("command")).filter(_.contains(root))
  }
}

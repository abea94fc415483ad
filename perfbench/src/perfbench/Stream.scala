package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.TimeUnit
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.operators.PartitionConfig
import graft.streaming.StreamingPrePartition
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

/** Open loop: one generator thread lands fixed-size CSV files at a fixed
  * rate (tmp + rename, so no file is seen half-written); they feed
  * `StreamingPrePartition.start` at half the cores with a zero-interval
  * trigger. Key is column 3 (`Node`), 8 pids.
  */
final class StreamPrePartition extends Workload {
  val name = "stream_prepartition"
  // Half the cores: a batch of a few small files needs no more, and the
  // driver, the generator and the JVM's own threads keep cores of their
  // own, so a core the hypervisor takes delays one thread rather than a
  // task every batch waits for.
  override def cores(nproc: Int): Int = math.max(1, nproc / 2)
  val cfg = PartitionConfig(columnIndex = 3, maxPartitionCount = 8, seed = 17)
  // files landed per second: 3-4 files a batch at ~0.6 s batches, so
  // per-batch fixed costs dominate and the loop runs well below saturation
  val rate = 6.0
  // the warm-up session of each set-up: 5 s of files at the rate. Batches
  // keep getting faster for the first 20-60 batches of a JVM; with 8
  // files the measured batches still were.
  val warmFiles = 30

  private var pool: IndexedSeq[Path] = IndexedSeq.empty
  private var perFile: IndexedSeq[Data.Digest] = IndexedSeq.empty
  private var linesPerFile = 1L

  def generate(ctx: Ctx): Double = {
    linesPerFile = math.max(10L, (500 * ctx.args.scale).toLong)
    val n = warmFiles + math.ceil(rate * ctx.args.seconds).toLong + 1
    val t0 = System.nanoTime()
    pool = Data.writeCsv(ctx.spark, n * linesPerFile, ctx.args.seed, ctx.dir("pool"), "f",
      ".csv", files = 8, gzip = false, linesPerFile = Some(linesPerFile)).toIndexedSeq
    val dt = (System.nanoTime() - t0) / 1e9
    perFile = pool.map { p =>
      var d = Data.Empty
      Data.lines(Data.read(p))((b, s, l) => d = d + Data.Digest(1, Data.hash(b, s, l)))
      d
    }
    dt
  }

  def inputFiles(ctx: Ctx): Seq[Path] = pool

  /** One batch's progress, as the query reported it. */
  final case class Batch(id: Long, startNs: Long, durations: Map[String, Long], rows: Long)

  final case class Session(batches: Seq[Batch], latency: Seq[Double], mbPerS: Double,
                           lagMax: Double, genLate: Double, filesPerBatch: Double)

  /** Lands `files` (pool indices) at `rate` into a fresh query and checks
    * every landed line appears exactly once, under its pid, with one
    * marker per batch. Each landed file is one operation.
    */
  def session(ctx: Ctx, label: String, files: Seq[Int], tag: String): Session = {
    val root = ctx.dir(s"stream/$label")
    Data.deleteTree(root)
    val (landing, staging, ckpt, tmp) =
      (root.resolve("landing"), root.resolve("staging"), root.resolve("ckpt"), root.resolve("tmp"))
    Seq(landing, tmp).foreach(Files.createDirectories(_))
    val epochNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
    val landed = new AtomicInteger(0)
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()
    @volatile var lagMax = 0
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0) {
          val start = java.time.Instant.parse(p.timestamp)
          val startNs = start.getEpochSecond * 1000000000L + start.getNano - epochNs
          batches.add(Batch(p.batchId, startNs,
            p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, p.numInputRows))
          val committed = batches.asScala.map(_.rows).sum / linesPerFile
          lagMax = math.max(lagMax, landed.get - committed.toInt)
        }
      }
    }
    ctx.spark.streams.addListener(listener)
    val q = ctx.tagged(tag)(StreamingPrePartition.start(ctx.spark, landing.toString,
      staging.toString, ckpt.toString, cfg, Trigger.ProcessingTime(0L)))
    val t0 = System.nanoTime() + 200000000L
    val due = files.indices.map(k => t0 + (k * 1e9 / rate).toLong)
    val late = new Array[Long](files.size)
    val gen = new Thread(() => files.zipWithIndex.foreach { case (f, k) =>
      val wait = due(k) - System.nanoTime()
      if (wait > 0) TimeUnit.NANOSECONDS.sleep(wait)
      val t = tmp.resolve(pool(f).getFileName)
      Files.copy(pool(f), t)
      Files.move(t, landing.resolve(pool(f).getFileName), StandardCopyOption.ATOMIC_MOVE)
      late(k) = System.nanoTime() - due(k)
      landed.incrementAndGet()
    }, "perfbench-generator")
    gen.start()
    gen.join()
    try {
      q.processAllAvailable()
      org.apache.spark.perfbench.ListenerBus.drain(ctx.spark.sparkContext) // last progress events
    } finally {
      q.stop()
      ctx.spark.streams.removeListener(listener)
    }

    if (ctx.args.mutate != "none")
      Data.mutate(ctx.args.mutate, Data.parts(staging.resolve("data")).maxBy(Files.size))
    // read every committed line back: which file it came from, which batch
    // holds it, and whether it sits under its pid
    val fileIndex = files.zipWithIndex.toMap
    val got = Array.fill(files.size)(Data.Empty)
    val batchOf = Array.fill(files.size)(mutable.Set.empty[Long])
    var misplaced = 0L
    var foreign = 0L
    val dataBatches = Data.parts(staging.resolve("data")).map(_.getParent.getParent).distinct
    dataBatches.foreach { bdir =>
      val batch = bdir.getFileName.toString.stripPrefix("batch=").toLong
      PidDigests.pidDirs(bdir).foreach { pdir =>
        val pid = pdir.getFileName.toString.stripPrefix("pid=").toInt
        Data.parts(pdir).foreach { p =>
          Data.lines(Data.read(p)) { (b, s, l) =>
            val (fs, fl) = Data.field(b, s, l, cfg.columnIndex)
            if (Data.xorFoldPid(b, fs, fl, cfg.seed, cfg.maxPartitionCount) != pid) misplaced += 1
            val (is, il) = Data.field(b, s, l, 0)
            val id = new String(b, is, il, "UTF-8").toLong
            fileIndex.get(((id - 1) / linesPerFile).toInt) match {
              case Some(k) =>
                got(k) = got(k) + Data.Digest(1, Data.hash(b, s, l))
                batchOf(k) += batch
              case None => foreign += 1
            }
          }
        }
      }
    }
    val markers = Data.files(staging.resolve("_batch_manifest"))
      .filter(_.getFileName.toString == "_SUCCESS")
      .map(p => p.getParent.getFileName.toString.stripPrefix("batch=").toLong -> p).toMap
    val dataIds = dataBatches.map(_.getFileName.toString.stripPrefix("batch=").toLong).toSet
    val sessionErr =
      if (misplaced > 0) Some(s"$misplaced lines under the wrong pid")
      else if (foreign > 0) Some(s"$foreign lines from files never landed")
      else if (markers.keySet != dataIds)
        Some(s"${markers.size} markers for ${dataIds.size} data batches")
      else None
    val commitNs = markers.map { case (b, p) =>
      b -> (Files.getLastModifiedTime(p).to(TimeUnit.NANOSECONDS) - epochNs)
    }
    val latency = ArrayBuffer.empty[Double]
    files.zipWithIndex.foreach { case (f, k) =>
      ctx.log.run(s"$label:${pool(f).getFileName}")(()) {
        sessionErr.orElse {
          if (got(k) != perFile(f)) Some(s"digest ${got(k)} != ${perFile(f)}")
          else if (batchOf(k).size != 1) Some(s"spread over batches ${batchOf(k).mkString(",")}")
          else None
        }
      }.foreach(_ => latency += (commitNs(batchOf(k).head) - due(k)) / 1e9)
    }
    val bs = batches.asScala.toSeq.sortBy(_.id)
    val lastCommit = if (commitNs.isEmpty) due.last else commitNs.values.max
    val mb = files.map(f => Files.size(pool(f))).sum / 1e6
    Session(bs, latency.toSeq, mb / ((lastCommit - due.head) / 1e9), lagMax,
      late.max / 1e9, files.size.toDouble / math.max(dataIds.size, 1))
  }

  def warmup(ctx: Ctx): Unit = { session(ctx, "warmup", 0 until warmFiles, "warmup"); () }

  private def landedFiles(ctx: Ctx, from: Int, seconds: Double): Seq[Int] =
    from until math.min(pool.size, from + math.max(1, math.ceil(rate * seconds).toInt))

  private def batchWalls(s: Session): Seq[Double] =
    s.batches.map(_.durations.getOrElse("triggerExecution", 0L) / 1e3)

  def measure(ctx: Ctx, seconds: Double): Measured = {
    val s = session(ctx, "run", landedFiles(ctx, warmFiles, seconds), "run")
    Measured(batchWalls(s), s.latency, s.mbPerS)
  }

  def traced(ctx: Ctx, seconds: Double): Traced = {
    val plainFiles = landedFiles(ctx, warmFiles, seconds / 3)
    val plain = session(ctx, "untraced", plainFiles, "untraced")
    ctx.listen()
    val s = session(ctx, "traced", landedFiles(ctx, warmFiles + plainFiles.size, seconds * 2 / 3), "op")
    val t = ctx.tracer.get
    s.batches.foreach { b =>
      t.add("streaming.batch", b.startNs, b.startNs + b.durations.getOrElse("triggerExecution", 0L) * 1000000L)
    }
    def med(k: String) = Stats.median(s.batches.map(_.durations.getOrElse(k, 0L) / 1e3))
    Traced(Map(
      "streaming.batches" -> s.batches.size.toDouble,
      "streaming.files_per_batch" -> s.filesPerBatch,
      "streaming.add_batch_s" -> med("addBatch"),
      "streaming.latest_offset_s" -> med("latestOffset"),
      "streaming.query_planning_s" -> med("queryPlanning"),
      "streaming.wal_commit_s" -> med("walCommit"),
      "streaming.lag_files_max" -> s.lagMax,
      "streaming.gen_late_s" -> s.genLate),
      batchWalls(plain), batchWalls(s), s.batches.size, ctx.cores)
  }
}

package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr

final case class Args(
    workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: Path, scale: Double, mutate: String, setups: Int,
    genOnly: Boolean, recordDigests: Boolean, commit: String, sourceSha: String,
    digests: Path, records: Path)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def get(k: String, d: String) = kv.getOrElse(k, d)
    Args(
      workload = kv("workload"), seed = kv("seed").toLong,
      seconds = get("seconds", "10").toDouble, trace = get("trace", "0") == "1",
      work = Paths.get(kv("work")).toAbsolutePath, scale = get("scale", "1").toDouble,
      mutate = get("mutate", "none"), setups = get("setups", "3").toInt,
      genOnly = get("gen-only", "0") == "1",
      recordDigests = get("record-digests", "0") == "1",
      commit = get("commit", "unknown"), sourceSha = get("source-sha", "unknown"),
      digests = Paths.get(get("digests", "perfbench/graph_digests.json")),
      records = Paths.get(get("records", kv("work"))).toAbsolutePath)
  }
}

/** Operations attempted and the ones that threw or failed their output
  * check, by name. A failed operation stays in the denominator.
  */
final class OpLog {
  var attempted = 0L
  val failures = ArrayBuffer.empty[String]

  /** Runs `op` (timed) and then `check` (untimed). Returns the op's wall
    * seconds when both succeed.
    */
  def run(name: String)(op: => Unit)(check: => Option[String]): Option[Double] = {
    attempted += 1
    val t0 = System.nanoTime()
    val result =
      try {
        op
        val dt = (System.nanoTime() - t0) / 1e9
        check.map(Left(_)).getOrElse(Right(dt))
      } catch { case t: Throwable => Left(s"threw $t") }
    result match {
      case Left(why) => failures += s"$name: $why"; None
      case Right(dt) => Some(dt)
    }
  }
}

/** State shared by the workloads of one run. */
final class Ctx(val args: Args, val cores: Int) {
  val log = new OpLog
  var spark: SparkSession = _
  var listener: Option[TaskListener] = None
  var tracer: Option[Tracer] = None

  def dir(name: String): Path = args.work.resolve(name)

  /** Jobs started inside `body` are counted by the listener under `tag`. */
  def tagged[T](tag: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty("perfbench.tag", tag)
    try body finally sc.setLocalProperty("perfbench.tag", null)
  }

  /** Registers the benchmark's scheduler listener and starts recording
    * spans: from here on the run is traced.
    */
  def listen(): TaskListener = {
    val l = new TaskListener
    spark.sparkContext.addSparkListener(l)
    listener = Some(l)
    tracer = Some(new Tracer(s"${args.workload}-s${args.seed}-c$cores"))
    l
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** A span when tracing, a plain call otherwise. */
  def span[T](name: String, child: Option[Span] = None)(body: => T): (T, Option[Span]) =
    tracer match {
      case Some(t) => val (r, s) = t.span(name, child)(body); (r, Some(s))
      case None => (body, None)
    }
}

/** One benchmark workload. */
trait Workload {
  def name: String
  def cores(nproc: Int): Int = nproc
  /** Writes the inputs for `ctx.args.seed` and computes the expected
    * outputs. Returns the seconds spent generating and writing input.
    */
  def generate(ctx: Ctx): Double
  /** The generated input files, for the determinism self-test. */
  def inputFiles(ctx: Ctx): Seq[Path]
  /** Untimed operations that load classes and compile code paths. */
  def warmup(ctx: Ctx): Unit
  /** The timed loop. */
  def measure(ctx: Ctx, seconds: Double): Measured
  /** The traced loop: per-layer metrics this workload exercises. */
  def traced(ctx: Ctx, seconds: Double): Traced
}

/** `wall` = one operation's durations; `latency` = the latency samples;
  * `inputMbS` = the throughput over the loop.
  */
final case class Measured(wall: Seq[Double], latency: Seq[Double], inputMbS: Double)

/** `untracedWall`/`tracedWall`: durations of the same operation without
  * and with tracing, for the overhead ratio. `ops`: the traced
  * operations, so listener totals read per operation.
  */
final case class Traced(layers: Map[String, Double], untracedWall: Seq[Double],
                        tracedWall: Seq[Double], ops: Int, cores: Int)

object Main {
  val workloads: Map[String, () => Workload] = Map(
    "prepartition_1c" -> (() => new PrePartition1c),
    "split_gz" -> (() => new SplitGz),
    "stream_prepartition" -> (() => new StreamPrePartition),
    "graph_rounds" -> (() => new GraphRounds))

  def main(argv: Array[String]): Unit = {
    val code = try run(Args.parse(argv)) catch {
      case t: Throwable => t.printStackTrace(); 1
    }
    System.out.flush()
    System.exit(code) // Spark leaves non-daemon threads behind
  }

  def nproc: Int = Runtime.getRuntime.availableProcessors()

  def session(ctx: Ctx, w: Workload, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${w.name}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", ctx.dir("spark-local").toString)
      .config("spark.sql.warehouse.dir", ctx.dir("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", ctx.dir("hadoop-tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)
    spark
  }

  def stop(ctx: Ctx): Unit = if (ctx.spark != null) {
    ctx.spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    ctx.spark = null
  }

  /** Bench's calibration kernel, range → xxhash64 → bit_xor: a record of
    * how contended the machine was, never used to scale a metric.
    */
  def calibrate(ctx: Ctx): Double = {
    val n = 10000000L * ctx.cores
    Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      ctx.noop(ctx.spark.range(0L, n, 1L, ctx.cores).select(expr("bit_xor(xxhash64(id))")))
      (System.nanoTime() - t0) / 1e9
    })
  }

  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def run(args: Args): Int = {
    val w = workloads.getOrElse(args.workload,
      throw new IllegalArgumentException(s"unknown workload ${args.workload}"))()
    val ctx = new Ctx(args, w.cores(nproc))
    Files.createDirectories(args.work)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val epochNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

    if (args.genOnly) {
      ctx.spark = session(ctx, w, nproc)
      w.generate(ctx)
      val md = java.security.MessageDigest.getInstance("SHA-256")
      w.inputFiles(ctx).sortBy(_.getFileName.toString).foreach { p =>
        md.update(p.getFileName.toString.getBytes("UTF-8"))
        md.update(Files.readAllBytes(p))
      }
      println(s"input_sha256 ${md.digest().map(b => f"$b%02x").mkString}")
      stop(ctx)
      return 0
    }

    // Set-up, repeated: session start, kernel registration, input
    // generation and warm-up. The first repeat counts from JVM start.
    val setups = ArrayBuffer.empty[Double]
    val genS = ArrayBuffer.empty[Double]
    (1 to math.max(1, args.setups)).foreach { rep =>
      val t0 = if (rep == 1) jvmStart * 1000000L - epochNs else System.nanoTime()
      stop(ctx)
      // input is generated at every core, also for a one-core workload
      ctx.spark = session(ctx, w, nproc)
      val t1 = System.nanoTime()
      genS += w.generate(ctx)
      val t2 = System.nanoTime()
      if (ctx.cores != nproc) { stop(ctx); ctx.spark = session(ctx, w, ctx.cores) }
      w.warmup(ctx)
      setups += (System.nanoTime() - t0) / 1e9
      System.err.println(f"perfbench: set-up $rep: session ${(t1 - t0) / 1e9}%.2f s, " +
        f"generate ${genS.last}%.2f s (with expected ${(t2 - t1) / 1e9}%.2f s), " +
        f"session and warm-up ${(System.nanoTime() - t2) / 1e9}%.2f s")
    }
    val calibBefore = calibrate(ctx)
    val (steal0, measured0) = (Host.stealNs(), System.nanoTime())

    val samples = mutable.LinkedHashMap.empty[String, Any]
    // layer metrics of the by-hand workloads (split_gz, graph_rounds):
    // printed and recorded, not part of the result line (see
    // perfbench/README.md)
    var extra = Seq.empty[(String, Double)]
    val (metrics, traced) =
      if (!args.trace) {
        val m = w.measure(ctx, args.seconds)
        samples ++= Seq("wall_s" -> m.wall, "latency_s" -> m.latency)
        (endToEnd(m, Stats.median(setups.toSeq), peakRssMb()), None)
      } else {
        val t = w.traced(ctx, args.seconds)
        samples ++= Seq("untraced_wall_s" -> t.untracedWall, "traced_wall_s" -> t.tracedWall)
        extra = Metrics.byHand.flatMap { case (k, _) => t.layers.get(k).map(k -> _) }
        (perLayer(ctx, t, Stats.median(genS.toSeq)), ctx.tracer)
      }
    // share of the machine's CPU time the hypervisor took while the
    // workload ran: like the calibration, a record of contention only
    val stealFrac = (Host.stealNs() - steal0).toDouble / (System.nanoTime() - measured0) / nproc
    val calibAfter = calibrate(ctx)
    stop(ctx)

    val failed = ctx.log.failures.size.toLong
    val attempted = math.max(ctx.log.attempted, 1L)
    val correct = failed == 0
    val units = (if (args.trace) Metrics.perLayer else Metrics.endToEnd).toMap
    val metricJson = mutable.LinkedHashMap.empty[String, Any]
    metrics.foreach { case (k, v) =>
      metricJson(k) = mutable.LinkedHashMap("value" -> v, "unit" -> units(k))
    }

    // the record: keyed by workload, seed, cores and mode, so runs on
    // another core count never overwrite this one
    val key = s"${w.name}.seed${args.seed}.c${ctx.cores}.${if (args.trace) "trace" else "e2e"}"
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> w.name, "seed" -> args.seed, "cores" -> ctx.cores,
      "nproc" -> nproc,
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20), "trace" -> args.trace,
      "seconds" -> args.seconds, "scale" -> args.scale,
      "commit" -> args.commit, "source_sha256" -> args.sourceSha,
      "calibration_s" -> mutable.LinkedHashMap("before" -> calibBefore, "after" -> calibAfter),
      "steal_frac" -> stealFrac,
      "setup_s" -> setups.toSeq, "attempted" -> attempted, "failed" -> failed,
      "failed_frac" -> failed.toDouble / attempted,
      "failures" -> ctx.log.failures.toSeq, "samples" -> samples, "metrics" -> metricJson,
      "by_hand_metrics" -> mutable.LinkedHashMap(extra: _*))
    val recDir = args.records.resolve("records")
    Files.createDirectories(recDir)
    Files.write(recDir.resolve(s"$key.json"), (Json.render(record) + "\n").getBytes("UTF-8"))
    traced.foreach(_.write(args.records.resolve("spans").resolve(s"$key.jsonl"), epochNs))

    // human-readable summary, then the one result line
    println(s"perfbench ${w.name} seed=${args.seed} cores=${ctx.cores} " +
      s"check=${if (correct) "ok" else "FAILED"} attempted=$attempted failed=$failed " +
      f"failed_frac=${failed.toDouble / attempted}%.4f")
    ctx.log.failures.foreach(f => println(s"  failed: $f"))
    val allUnits = units ++ Metrics.byHand
    (metrics ++ extra).foreach { case (k, v) => println(f"  $k%-48s $v%14.6f ${allUnits(k)}") }
    println(Json.render(mutable.LinkedHashMap(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metricJson)))
    0
  }

  def endToEnd(m: Measured, setupS: Double, rssMb: Double): Seq[(String, Double)] = {
    val wall = if (m.wall.isEmpty) Double.NaN else Stats.median(m.wall)
    val lat = if (m.latency.isEmpty) (50, Double.NaN) else Stats.highPercentile(m.latency)
    val p50 = if (m.latency.isEmpty) Double.NaN else Stats.median(m.latency)
    Seq("wall_s" -> wall, "input_mb_s" -> m.inputMbS, "latency_p50_s" -> p50,
      "latency_p95_s" -> lat._2, "setup_s" -> setupS, "peak_rss_mb" -> rssMb)
  }

  def perLayer(ctx: Ctx, t: Traced, genS: Double): Seq[(String, Double)] = {
    val sc = ctx.spark.sparkContext
    val tot = ctx.listener.map(_.sum(sc)(_.startsWith("op"))).getOrElse(new Totals)
    val ops = math.max(t.ops, 1).toDouble
    val wall = Stats.median(t.tracedWall)
    val mb = 1e6
    val spark = Map(
      "spark.jobs" -> tot.jobs / ops, "spark.stages" -> tot.stages / ops,
      "spark.tasks" -> tot.tasks / ops,
      "spark.sched_gap_s" -> (wall - tot.taskS / ops / t.cores),
      "spark.task_s" -> tot.taskS / ops, "spark.task_cpu_s" -> tot.cpuS / ops,
      "spark.gc_s" -> tot.gcS / ops, "spark.deser_s" -> tot.deserS / ops,
      "spark.map_task_s" -> tot.mapTaskS / ops, "spark.reduce_task_s" -> tot.reduceTaskS / ops,
      "spark.shuffle_write_mb" -> tot.shuffleWriteB / mb / ops,
      "spark.shuffle_read_mb" -> tot.shuffleReadB / mb / ops,
      "spark.fetch_wait_s" -> tot.fetchWaitS / ops, "spark.spill_mb" -> tot.spillB / mb / ops,
      "spark.input_mb" -> tot.inputB / mb / ops, "spark.output_mb" -> tot.outputB / mb / ops,
      "spark.task_retry_frac" ->
        (if (tot.tasks == 0) 0.0 else tot.failedTasks.toDouble / tot.tasks))
    val bench = Map(
      "bench.trace_overhead_frac" -> (wall / Stats.median(t.untracedWall) - 1.0),
      "bench.failed_frac" ->
        ctx.log.failures.size.toDouble / math.max(ctx.log.attempted, 1L),
      "sources.generate_s" -> genS)
    val all = t.layers ++ spark ++ bench
    // a layer the workload never calls reads 0: it did no work there
    Metrics.perLayer.map { case (k, _) => k -> all.getOrElse(k, 0.0) }
  }
}

/** The metric names and units, in the order they are printed. */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "input_mb_s" -> "MB/s", "latency_p50_s" -> "s",
    "latency_p95_s" -> "s", "setup_s" -> "s", "peak_rss_mb" -> "MB")

  val perLayer: Seq[(String, String)] = Seq(
    "sources.scan_s" -> "s", "sources.generate_s" -> "s",
    "functions.csv_column_at_s" -> "s", "functions.xor_fold_hash_s" -> "s",
    "operators.prepartition.exchange_s" -> "s", "operators.prepartition.write_s" -> "s",
    "operators.prepartition.output_files" -> "count",
    "operators.prepartition.pid_skew" -> "ratio",
    "streaming.batches" -> "count", "streaming.files_per_batch" -> "count",
    "streaming.add_batch_s" -> "s", "streaming.latest_offset_s" -> "s",
    "streaming.query_planning_s" -> "s", "streaming.wal_commit_s" -> "s",
    "streaming.lag_files_max" -> "count", "streaming.gen_late_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.sched_gap_s" -> "s", "spark.task_s" -> "s", "spark.task_cpu_s" -> "s",
    "spark.gc_s" -> "s", "spark.deser_s" -> "s", "spark.map_task_s" -> "s",
    "spark.reduce_task_s" -> "s", "spark.shuffle_write_mb" -> "MB",
    "spark.shuffle_read_mb" -> "MB", "spark.fetch_wait_s" -> "s", "spark.spill_mb" -> "MB",
    "spark.input_mb" -> "MB", "spark.output_mb" -> "MB", "spark.task_retry_frac" -> "ratio",
    "bench.trace_overhead_frac" -> "ratio", "bench.failed_frac" -> "ratio")

  /** Reported by the by-hand workloads only, `split_gz` and
    * `graph_rounds`: they would read 0 on every workload in
    * `BENCHMARK.json`.
    */
  val byHand: Seq[(String, String)] = Seq(
    "sources.offset_scan_s" -> "s",
    "operators.split.write_s" -> "s", "operators.split.manifest_s" -> "s",
    "operators.split.shards" -> "count", "operators.split.shard_fill" -> "ratio") ++
    GraphRounds.queries.flatMap { q =>
      Seq(s"operators.graph.$q.wall_s" -> "s", s"operators.graph.$q.jobs" -> "count",
        s"operators.graph.$q.task_s" -> "s")
    }
}

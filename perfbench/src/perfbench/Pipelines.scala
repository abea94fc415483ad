package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import graft.operators.{PartitionConfig, PrePartition, Split}
import graft.sources.Readers
import org.apache.spark.sql.functions.col

/** The closed loop: one operation at a time until the operations took
  * `seconds` in all. Returns the durations of the operations that passed.
  */
object Loop {
  /** Warm-up of a closed loop: operations until they took this long. */
  val WarmupSeconds = 2.0

  def closed(seconds: Double)(body: Int => Option[Double]): Seq[Double] = {
    val walls = ArrayBuffer.empty[Double]
    var spent = 0.0
    var i = 0
    while (spent < seconds) {
      val t0 = System.nanoTime()
      body(i).foreach(walls += _)
      spent += (System.nanoTime() - t0) / 1e9
      i += 1
    }
    walls.toSeq
  }

  /** Input MB over the median operation. */
  def mbPerS(bytes: Long, walls: Seq[Double]): Double =
    if (walls.isEmpty) Double.NaN else bytes / 1e6 / Stats.median(walls)
}

/** Expected per-pid digests of CSV lines keyed by one column. */
object PidDigests {
  def of(files: Seq[Path], cfg: PartitionConfig): Map[Int, Data.Digest] = {
    val acc = mutable.Map.empty[Int, Data.Digest].withDefaultValue(Data.Empty)
    files.foreach { p =>
      Data.lines(Data.read(p)) { (b, s, n) =>
        val (fs, fl) = Data.field(b, s, n, cfg.columnIndex)
        val pid = Data.xorFoldPid(b, fs, fl, cfg.seed, cfg.maxPartitionCount)
        acc(pid) = acc(pid) + Data.Digest(1, Data.hash(b, s, n))
      }
    }
    acc.toMap
  }

  /** Checks a `partitionBy("pid")` output tree: every line sits under the
    * pid its key hashes to, and each pid's digest equals the expected one.
    * `pidDirs` lists the `pid=<n>` directories to read.
    */
  def check(pidDirs: Seq[Path], cfg: PartitionConfig,
            expected: Map[Int, Data.Digest]): Option[String] = {
    val got = mutable.Map.empty[Int, Data.Digest].withDefaultValue(Data.Empty)
    var misplaced = 0L
    pidDirs.foreach { d =>
      val pid = d.getFileName.toString.stripPrefix("pid=").toInt
      Data.parts(d).foreach { p =>
        Data.lines(Data.read(p)) { (b, s, n) =>
          val (fs, fl) = Data.field(b, s, n, cfg.columnIndex)
          if (Data.xorFoldPid(b, fs, fl, cfg.seed, cfg.maxPartitionCount) != pid) misplaced += 1
          got(pid) = got(pid) + Data.Digest(1, Data.hash(b, s, n))
        }
      }
    }
    val bad = (expected.keySet ++ got.keySet).toSeq.sorted
      .filter(pid => expected.getOrElse(pid, Data.Empty) != got(pid))
    if (misplaced > 0) Some(s"$misplaced lines under the wrong pid")
    else if (bad.nonEmpty) Some(s"pid digests differ for pids ${bad.take(5).mkString(",")}")
    else None
  }

  def pidDirs(root: Path): Seq[Path] =
    if (!Files.exists(root)) Nil
    else Files.list(root).toArray.toSeq.map(_.asInstanceOf[Path])
      .filter(p => p.getFileName.toString.startsWith("pid=")).sortBy(_.toString)
}

/** `PrePartition.run` on headerless plain CSV keyed by column 0, 64 pids,
  * at the reference's deployed shape: one core and a 2 GiB heap.
  */
final class PrePartition1c extends Workload {
  val name = "prepartition_1c"
  override def cores(nproc: Int): Int = 1
  val cfg = PartitionConfig(columnIndex = 0, maxPartitionCount = 64, seed = 17)
  val files = 4

  private var inputs: Seq[Path] = Nil
  private var inputBytes = 0L
  private var expected: Map[Int, Data.Digest] = Map.empty

  def rows(ctx: Ctx): Long = math.max(1000L, (180000 * ctx.args.scale).toLong)
  def glob(ctx: Ctx): String = ctx.dir("input").resolve("in-*.csv").toString
  def out(ctx: Ctx): Path = ctx.dir("output")

  def generate(ctx: Ctx): Double = {
    val t0 = System.nanoTime()
    val n = rows(ctx)
    inputs = Data.writeCsv(ctx.spark, n, ctx.args.seed, ctx.dir("input"), "in", ".csv",
      files, gzip = false)
    val dt = (System.nanoTime() - t0) / 1e9
    inputBytes = inputs.map(Files.size).sum
    expected = PidDigests.of(inputs, cfg)
    dt
  }

  def inputFiles(ctx: Ctx): Seq[Path] = inputs

  def op(ctx: Ctx): Unit = PrePartition.run(ctx.spark, glob(ctx), out(ctx).toString, cfg)

  def check(ctx: Ctx): Option[String] = {
    if (ctx.args.mutate != "none")
      Data.mutate(ctx.args.mutate, Data.parts(out(ctx)).maxBy(Files.size))
    PidDigests.check(pidDirs(ctx), cfg, expected)
  }

  private def pidDirs(ctx: Ctx) = PidDigests.pidDirs(out(ctx))

  /** The reference's B7 contract on the output: RowCount = distinct Id =
    * distinct Timestamp, and three levels.
    */
  def invariants(ctx: Ctx): Option[String] = {
    val r = PrePartition.invariants(PrePartition.validationFrame(ctx.spark, out(ctx).toString))
      .collect()(0)
    val (rowCount, ids, ts, levels) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val n = rows(ctx)
    if (rowCount == n && ids == n && ts == n && levels == 3) None
    else Some(s"invariants RowCount=$rowCount Id=$ids Timestamp=$ts Level=$levels for $n rows")
  }

  def warmup(ctx: Ctx): Unit = {
    Loop.closed(Loop.WarmupSeconds)(i => ctx.log.run(s"warmup$i")(op(ctx))(check(ctx)))
    ()
  }

  def measure(ctx: Ctx, seconds: Double): Measured = {
    val walls = Loop.closed(seconds)(i => ctx.log.run(s"op$i")(op(ctx))(check(ctx)))
    ctx.log.run("invariants")(())(invariants(ctx))
    Measured(walls, walls, Loop.mbPerS(inputBytes, walls))
  }

  def traced(ctx: Ctx, seconds: Double): Traced = {
    val untraced = Loop.closed(seconds / 3)(i => ctx.log.run(s"untraced$i")(op(ctx))(check(ctx)))
    ctx.listen()
    val layers = mutable.Map.empty[String, ArrayBuffer[Double]]
    def add(k: String, v: Double) = layers.getOrElseUpdate(k, ArrayBuffer.empty) += v
    val fileCounts = ArrayBuffer.empty[Double]
    val skews = ArrayBuffer.empty[Double]
    val tracedWall = Loop.closed(seconds * 2 / 3) { i =>
      val s = ctx.spark
      val lines = () => Readers.textLines(s, glob(ctx))
      def layer(name: String, child: Option[Span])(df: => org.apache.spark.sql.DataFrame) =
        ctx.span(name, child)(ctx.tagged(s"layer:$name")(ctx.noop(df)))._2
      val scan = layer("sources.scan", None)(lines())
      val colAt = layer("functions.csv_column_at", scan)(
        lines().withColumn("f", graft.functions.GraftFunctions.csvColumnAt(col("value"), cfg.columnIndex)))
      val hash = layer("functions.xor_fold_hash", colAt)(
        PrePartition.withPartitionId(lines(), cfg).filter(col("pid").isNotNull))
      val exch = layer("operators.prepartition.exchange", hash)(
        PrePartition.withPartitionId(lines(), cfg).filter(col("pid").isNotNull)
          .repartition(cfg.maxPartitionCount, col("pid")))
      var write: Option[Span] = None
      val w = ctx.log.run(s"traced$i") {
        write = ctx.span("operators.prepartition.write", exch)(ctx.tagged("op")(op(ctx)))._2
      }(check(ctx))
      val t = ctx.tracer.get
      Seq(scan, colAt, hash, exch, write).flatten.foreach(sp => add(sp.name + "_s", t.selfSeconds(sp)))
      val sizes = pidDirs(ctx).map(d => Data.parts(d).map(Files.size).sum.toDouble).filter(_ > 0)
      fileCounts += pidDirs(ctx).map(d => Data.parts(d).size).sum
      if (sizes.nonEmpty) skews += sizes.max / Stats.mean(sizes)
      w.flatMap(_ => write.map(_.seconds))
    }
    val m = layers.map { case (k, v) => k -> Stats.median(v.toSeq) }.toMap ++ Map(
      "operators.prepartition.output_files" -> Stats.median(fileCounts.toSeq),
      "operators.prepartition.pid_skew" -> Stats.median(skews.toSeq))
    Traced(m, untraced, tracedWall, tracedWall.size, 1)
  }
}

/** `Split.run` on gzip input at every core, plain output, a shard size
  * that gives several shards per file.
  */
final class SplitGz extends Workload {
  val name = "split_gz"
  val shardBytes = 1L << 20

  private var inputs: Seq[Path] = Nil
  private var inputBytes = 0L
  private var totalLines = 0L
  private var maxLine = 0
  private var expected: Map[String, Data.Digest] = Map.empty

  def files(ctx: Ctx): Int = math.max(8, 2 * ctx.cores)
  def rows(ctx: Ctx): Long = math.max(1000L, (120000 * ctx.args.scale).toLong)
  def glob(ctx: Ctx): String = ctx.dir("input").resolve("in-*.txt.gz").toString
  def out(ctx: Ctx): Path = ctx.dir("output")

  def generate(ctx: Ctx): Double = {
    val t0 = System.nanoTime()
    val n = rows(ctx)
    val f = files(ctx)
    inputs = Data.writeCsv(ctx.spark, n, ctx.args.seed, ctx.dir("input"), "in", ".txt.gz",
      f, gzip = true)
    val dt = (System.nanoTime() - t0) / 1e9
    inputBytes = 0; totalLines = 0; maxLine = 0
    expected = inputs.map { p =>
      val bytes = Data.read(p)
      inputBytes += bytes.length
      var d = Data.Empty
      Data.lines(bytes) { (b, s, n) =>
        d = d + Data.Digest(1, Data.hash(b, s, n)); maxLine = math.max(maxLine, n)
      }
      totalLines += d.count
      p.getFileName.toString.stripSuffix(".txt.gz") -> d
    }.toMap
    dt
  }

  def inputFiles(ctx: Ctx): Seq[Path] = inputs

  def op(ctx: Ctx): Unit = {
    Split.run(ctx.spark, glob(ctx), out(ctx).toString, Split.SplitConfig(shardBytes))
    ()
  }

  def check(ctx: Ctx): Option[String] = {
    val shards = Data.parts(out(ctx))
    if (ctx.args.mutate != "none") Data.mutate(ctx.args.mutate, shards.maxBy(Files.size))
    val manifest = Split.manifest(ctx.spark, out(ctx).toString)
      .select("source_file", "shard_id", "dest_file", "n_bytes", "n_records", "is_last_shard")
      .collect()
    val got = mutable.Map.empty[String, Data.Digest].withDefaultValue(Data.Empty)
    val errors = ArrayBuffer.empty[String]
    shards.foreach { p =>
      val base = p.getFileName.toString.replaceAll("-\\d{5}\\.txt$", "")
      Data.lines(Data.read(p))((b, s, n) => got(base) = got(base) + Data.Digest(1, Data.hash(b, s, n)))
    }
    val records = manifest.map(_.getLong(4)).sum
    if (records != totalLines) errors += s"manifest holds $records records, input $totalLines"
    val badFiles = (expected.keySet ++ got.keySet).filter(k => expected.getOrElse(k, Data.Empty) != got(k))
    if (badFiles.nonEmpty) errors += s"line digests differ for ${badFiles.toSeq.sorted.take(3).mkString(",")}"
    if (manifest.length != shards.size) errors += s"${manifest.length} manifest rows, ${shards.size} shard files"
    manifest.foreach { r =>
      val (bytes, recs, last) = (r.getLong(3), r.getLong(4), r.getBoolean(5))
      if (recs <= 0 || bytes <= 0) errors += s"empty shard ${r.getString(2)}"
      if (!last && bytes > shardBytes + maxLine + 1) errors += s"oversize shard ${r.getString(2)}: $bytes"
    }
    if (Data.files(out(ctx)).exists(_.getFileName.toString.contains("_tmp_")))
      errors += "tmp files left"
    errors.headOption
  }

  def fresh(ctx: Ctx): Unit = Data.deleteTree(out(ctx))

  def warmup(ctx: Ctx): Unit = {
    Loop.closed(Loop.WarmupSeconds) { i => fresh(ctx); ctx.log.run(s"warmup$i")(op(ctx))(check(ctx)) }
    ()
  }

  def measure(ctx: Ctx, seconds: Double): Measured = {
    val walls = Loop.closed(seconds) { i => fresh(ctx); ctx.log.run(s"op$i")(op(ctx))(check(ctx)) }
    Measured(walls, walls, Loop.mbPerS(inputBytes, walls))
  }

  def traced(ctx: Ctx, seconds: Double): Traced = {
    val untraced = Loop.closed(seconds / 3) { i =>
      fresh(ctx); ctx.log.run(s"untraced$i")(op(ctx))(check(ctx))
    }
    ctx.listen()
    val scanS, writeS, manifestS, shardsN, fill = ArrayBuffer.empty[Double]
    val tracedWall = Loop.closed(seconds * 2 / 3) { i =>
      fresh(ctx)
      val t = ctx.tracer.get
      val (_, scan) = ctx.span("sources.offset_scan")(ctx.tagged("layer:offset_scan")(
        ctx.noop(Split.linesWithOffsets(ctx.spark, glob(ctx), shardBytes))))
      var write: Option[Span] = None
      val w = ctx.log.run(s"traced$i") {
        write = ctx.span("operators.split.write", scan)(ctx.tagged("op")(op(ctx)))._2
      }(check(ctx))
      val (m, man) = ctx.span("operators.split.manifest")(ctx.tagged("layer:manifest") {
        val m = Split.manifest(ctx.spark, out(ctx).toString)
        ctx.noop(Split.shardCount(m))
        m.select("n_bytes").collect().map(_.getLong(0).toDouble)
      })
      scanS += scan.get.seconds
      write.foreach(sp => writeS += t.selfSeconds(sp))
      manifestS += man.get.seconds
      shardsN += m.length
      if (m.nonEmpty) fill += Stats.mean(m.toSeq) / m.max
      w.flatMap(_ => write.map(_.seconds))
    }
    def med(xs: ArrayBuffer[Double]) = if (xs.isEmpty) Double.NaN else Stats.median(xs.toSeq)
    Traced(Map(
      "sources.offset_scan_s" -> med(scanS), "operators.split.write_s" -> med(writeS),
      "operators.split.manifest_s" -> med(manifestS), "operators.split.shards" -> med(shardsN),
      "operators.split.shard_fill" -> med(fill)),
      untraced, tracedWall, tracedWall.size, ctx.cores)
  }
}

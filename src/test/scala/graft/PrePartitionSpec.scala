package graft

import graft.functions.HashUtil
import graft.operators.{PartitionConfig, PrePartition}
import graft.sources.{LogDataGenerator, Readers}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import java.nio.file.Files

import scala.jdk.CollectionConverters._

/** End-to-end PrePartition slice (SURVEY.md §7.3 M1): generate → serialize →
  * pre-partition → validate cardinality invariants + partition correctness.
  */
class PrePartitionSpec extends GraftSparkSpec {

  private val n = 5000L
  private lazy val tmp = Files.createTempDirectory("graft-prepartition").toString

  test("generator produces the reference distributions") {
    val df = LogDataGenerator.generate(spark, n).cache()
    assert(df.count() == n)
    val inv = PrePartition.invariants(
      df.select(col("Id"), col("Timestamp"), col("Level"))).collect()(0)
    assert(inv.getAs[Long]("RowCount") == n)
    assert(inv.getAs[Long]("IdCardinality") == n)          // Ids unique
    assert(inv.getAs[Long]("TimestampCardinality") == n)   // Timestamps unique
    assert(inv.getAs[Long]("LevelCardinality") == 3)
    val lens = df.select(min(length(col("Text"))), max(length(col("Text")))).collect()(0)
    assert(lens.getInt(0) >= 30 && lens.getInt(1) <= 150)
    df.unpersist()
  }

  test("prepartition end-to-end: no row lost, none duplicated, hash correct") {
    val df = LogDataGenerator.generate(spark, n)
    val landing = s"$tmp/landing"
    val staging = s"$tmp/staging"
    LogDataGenerator.toCsvLines(df).write.mode("overwrite").text(landing)

    // partition on column 3 (Node), like the reference's policy fixture
    val cfg = PartitionConfig(columnIndex = 3, maxPartitionCount = 8, seed = 17)
    PrePartition.run(spark, landing, staging, cfg)

    val out = spark.read.text(staging).select("value")
    // invariant: cardinality conservation across the pipeline
    val inv = PrePartition.invariants(PrePartition.validationFrame(spark, staging)).collect()(0)
    assert(inv.getAs[Long]("RowCount") == n)
    assert(inv.getAs[Long]("IdCardinality") == n)
    assert(inv.getAs[Long]("LevelCardinality") == 3)

    // every record landed in the pid its Node xor-folds to
    val withPid = spark.read.format("text")
      .option("basePath", staging).load(staging + "/pid=*")
    val mismatches = withPid
      .withColumn("node", graft.functions.GraftFunctions.csvColumnAt(col("value"), 3))
      .withColumn("expected", graft.functions.GraftFunctions.xorFoldHash(col("node"), 17, 8))
      .filter(col("pid") =!= col("expected"))
      .count()
    assert(mismatches == 0)

    // verbatim fidelity: the multiset of lines is exactly the input's
    val diff = spark.read.text(landing).except(out).count() +
      out.except(spark.read.text(landing)).count()
    assert(diff == 0)
  }

  // several files, split into several scan tasks each: each task writes its
  // own rows to one file per pid, with no exchange
  private lazy val splitLanding = {
    val dir = s"$tmp/split-landing"
    LogDataGenerator.toCsvLines(LogDataGenerator.generate(spark, n, seed = 11))
      .coalesce(3).write.mode("overwrite").text(dir)
    s"$dir/*.txt"
  }
  private val splitCfg = PartitionConfig(columnIndex = 3, maxPartitionCount = 8, seed = 17)

  private def withSmallSplits[A](body: => A): A = {
    val key = "spark.sql.files.maxPartitionBytes"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "65536")
    try body finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Relative path -> bytes of every data file under `root`. */
  private def dataFiles(root: String): Map[String, Seq[Byte]] = {
    val base = java.nio.file.Paths.get(root)
    Files.walk(base).iterator().asScala.filter(Files.isRegularFile(_))
      .filterNot { p => val f = p.getFileName.toString; f.startsWith(".") || f == "_SUCCESS" }
      .map(p => base.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
  }

  test("prepartition runs exchange-free: one stage, no shuffle write") {
    assert(splitLanding.nonEmpty) // the input is written outside the group
    val (result, run) = inJobGroup(
      withSmallSplits(PrePartition.run(spark, splitLanding, s"$tmp/exchange-free", splitCfg)))
    result.get
    assert(run.jobs == 1 && run.stages == 1, s"$run")
    assert(run.taskEnds.filter(_.taskMetrics != null)
      .map(_.taskMetrics.shuffleWriteMetrics.bytesWritten).sum == 0)
  }

  test("each pid file holds its scan split's lines in input order; reruns are byte-identical") {
    val (a, b) = (s"$tmp/order-a", s"$tmp/order-b")
    val expected = withSmallSplits {
      PrePartition.run(spark, splitLanding, a, splitCfg)
      PrePartition.run(spark, splitLanding, b, splitCfg)
      // the same scan, its rows tagged with their split: the reference
      // copies each record into its partition's buffer in stream order
      PrePartition.withPartitionId(Readers.textLines(spark, splitLanding), splitCfg)
        .select("pid", "value").rdd
        .mapPartitionsWithIndex((split, it) => it.map(r => (split, r.getInt(0), r.getString(1))))
        .collect().toSeq
    }
    val splits = expected.map(_._1).distinct
    assert(splits.size > 3, s"want several splits per file, got ${splits.size}")
    val want = expected.groupBy { case (split, pid, _) => s"pid=$pid/part-$split.txt" }
      .map { case (f, rows) => f -> rows.map(_._3 + "\n").mkString.getBytes("UTF-8").toSeq }
    val got = dataFiles(a)
    assert(got.keySet == want.keySet)
    got.foreach { case (f, bytes) => assert(bytes == want(f), s"$f differs") }
    assert(dataFiles(b) == got)
  }

  test("the scatter writes each line's bytes verbatim: non-UTF-8, quoted key, short line") {
    val dir = Files.createTempDirectory("graft-verbatim")
    val bad = Array(0xff, 0xfe, 0x80).map(_.toByte)
    val lines: Seq[Array[Byte]] = Seq(
      "1,2026-01-01,Info,node-a,".getBytes("UTF-8") ++ bad ++ " text".getBytes("UTF-8"),
      "2,2026-01-01,Warn,\"node,b\",quoted comma".getBytes("UTF-8"),
      "3,too-short".getBytes("UTF-8")) ++
      (4 until 40).map(i => s"$i,2026-01-02,Info,node-$i,plain".getBytes("UTF-8"))
    Files.write(dir.resolve("in.csv"), lines.map(_ :+ '\n'.toByte).reduce(_ ++ _))
    val out = s"$tmp/verbatim"
    PrePartition.run(spark, dir.toString, out, splitCfg)
    // the oracle: the declarative pid over the same scan, the line's raw bytes
    val want = PrePartition.withPartitionId(Readers.textLines(spark, dir.toString), splitCfg)
      .filter(col("pid").isNotNull).select(col("pid"), col("value").cast("binary")).rdd
      .mapPartitionsWithIndex((split, it) => it.map(r => (split, r.getInt(0), r.getAs[Array[Byte]](1))))
      .collect().toSeq
      .groupBy { case (split, pid, _) => s"pid=$pid/part-$split.txt" }
      .map { case (f, rows) => f -> rows.flatMap(_._3.toSeq :+ '\n'.toByte) }
    val got = dataFiles(out)
    assert(got.keySet == want.keySet)
    got.foreach { case (f, bytes) => assert(bytes == want(f), s"$f differs") }
    assert(want.values.map(_.count(_ == '\n'.toByte)).sum == lines.size - 1)
    assert(got.values.flatten.toSeq.containsSlice(bad.toSeq))
    assert(!got.values.exists(_.containsSlice("too-short".getBytes("UTF-8").toSeq)))
  }

  test("partition samples: one witness value per pid, consistent with the hash") {
    import graft.functions.HashUtil
    import org.apache.spark.unsafe.types.UTF8String
    val lines = LogDataGenerator.toCsvLines(
      LogDataGenerator.generate(spark, 2000, seed = 3))
    val cfg = PartitionConfig(columnIndex = 3, maxPartitionCount = 8, seed = 17)
    val samples = PrePartition.partitionSamples(lines, cfg).collect()
    assert(samples.nonEmpty && samples.length <= 8)
    samples.foreach { r =>
      val pid = r.getAs[Int]("pid")
      val witness = r.getAs[String]("partition_value_sample")
      assert(HashUtil.xorFoldMod(UTF8String.fromString(witness), 17, 8) == pid)
    }
    assert(samples.map(_.getAs[Long]("n_records")).sum == 2000L)
  }

  test("suffix filter prunes non-matching files at listing time (A1)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-suffix")
    java.nio.file.Files.writeString(dir.resolve("a.csv"), "1,x\n2,y\n")
    java.nio.file.Files.writeString(dir.resolve("b.txt"), "3,z\n")
    val got = graft.sources.Readers
      .textLines(spark, dir.toString, suffix = Some(".csv"))
      .count()
    assert(got == 2)
    assert(graft.sources.Readers.textLines(spark, dir.toString, None).count() == 3)
  }

  test("rows whose extract column is missing get no partition (reference semantics)") {
    import spark.implicits._
    val lines = Seq("a,b,c", "only-one-field").toDF("value")
    val pids = PrePartition.withPartitionId(lines, PartitionConfig(2, 4, 0))
      .select("pid").collect().map(r => if (r.isNullAt(0)) null else r.getInt(0))
    assert(pids(0) == HashUtil.xorFoldMod(UTF8String.fromString("c"), 0, 4))
    assert(pids(1) == null)
  }
}

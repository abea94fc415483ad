package graft

import graft.operators.{Export, PartitionConfig, PrePartition}
import graft.plans.Resources
import graft.sources.LogDataGenerator
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Round-2 surface: multi-container output spread, async export with
  * operation tracking, and the B3/B4 resource-metadata pipelines.
  */
class Round2OpsSpec extends GraftSparkSpec {
  import spark.implicits._

  private lazy val tmp = Files.createTempDirectory("graft-r2").toString

  // PrePartition.run is the one-root case of runSpread: the placement and
  // rerun checks run at both widths
  private def spreadTests(nRoots: Int, suffix: String): Unit = {
    val landing = s"$tmp/landing$nRoots"
    val bases = (0 until nRoots).map(i => s"$tmp/container$nRoots-$i")
    val cfg = PartitionConfig(columnIndex = 3, maxPartitionCount = 8, seed = 17)

    test(s"runSpread round-robins pid dirs across N base paths, no row lost$suffix") {
      LogDataGenerator.toCsvLines(LogDataGenerator.generate(spark, 2000))
        .coalesce(2).write.mode("overwrite").text(landing)

      PrePartition.runSpread(spark, s"$landing/*.txt", bases, cfg)

      // every pid dir landed in exactly the base path pid % N selects
      val placed = bases.zipWithIndex.flatMap { case (b, i) =>
        Option(new java.io.File(b).listFiles()).getOrElse(Array.empty)
          .filter(_.getName.startsWith("pid="))
          .map(f => (i, f.getName.stripPrefix("pid=").toInt))
      }
      assert(placed.nonEmpty)
      assert(placed.forall { case (container, pid) => pid % nRoots == container })
      // all 8 pids present across the spread, each exactly once
      assert(placed.map(_._2).sorted == (0 until 8))
      // each root is marked complete, as Spark's committer marks its output
      assert(bases.forall(b => new java.io.File(s"$b/_SUCCESS").isFile))

      // byte-fidelity: concatenated spread output == input lines
      val out = spark.read.text(bases.map(b => s"$b/pid=*/*.txt"): _*)
      val in = spark.read.text(s"$landing/*.txt")
      assert(out.count() == 2000)
      assert(out.except(in).count() == 0 && in.except(out).count() == 0)

      // partition placement honors the xor-fold contract
      val b = bases(1 % nRoots)
      val mismatches = spark.read
        .option("basePath", b).text(s"$b/pid=*/*.txt")
        .withColumn("node", graft.functions.GraftFunctions.csvColumnAt(col("value"), 3))
        .withColumn("expected", graft.functions.GraftFunctions.xorFoldHash(col("node"), 17, 8))
        .filter(col("pid") =!= col("expected")).count()
      assert(mismatches == 0)
    }

    test(s"runSpread overwrites prior pid dirs on rerun (no duplication)$suffix") {
      PrePartition.runSpread(spark, s"$landing/*.txt", bases, cfg)
      val out = spark.read.text(bases.map(b => s"$b/pid=*/*.txt"): _*)
      assert(out.count() == 2000)
    }
  }

  spreadTests(3, "")
  spreadTests(1, " (one root, as PrePartition.run)")

  test("async export completes, is polled via the operations frame") {
    val df = spark.range(500).select(col("id"), (col("id") * 2).as("dbl"))
    val dest = s"$tmp/export-async"
    val opId = Export.toCsvAsync(df, dest, includeHeaders = true)

    // poll like the reference's OperationManager loop
    val deadline = System.currentTimeMillis() + 60000
    var state = Export.operationState(opId).get
    while (state == "InProgress" && System.currentTimeMillis() < deadline) {
      Thread.sleep(100)
      state = Export.operationState(opId).get
    }
    assert(state == "Completed")

    // the .show operations analogue exposes the same terminal row
    val row = Export.operations(spark)
      .filter(col("operation_id") === opId).collect()(0)
    assert(row.getAs[String]("state") == "Completed")
    assert(row.getAs[String]("operation") == "DataExportToCsv")
    assert(row.getAs[java.sql.Timestamp]("finished_at") != null)

    // and the export actually landed
    val back = spark.read.option("header", "true").csv(dest)
    assert(back.count() == 500)
  }

  test("async export failure is tracked as Failed, not thrown") {
    // a plan that fails at ACTION time (analysis-time failures like a
    // missing path throw in the caller thread, before the Future starts)
    val boom = udf((i: Long) => {
      if (i >= 0) throw new RuntimeException("boom at execution"); i
    })
    val bad = spark.range(10).select(boom(col("id")).as("x"))
    val opId = Export.toCsvAsync(bad, s"$tmp/export-fail")
    val deadline = System.currentTimeMillis() + 60000
    var state = Export.operationState(opId).get
    while (state == "InProgress" && System.currentTimeMillis() < deadline) {
      Thread.sleep(100)
      state = Export.operationState(opId).get
    }
    assert(state == "Failed")
  }

  test("streaming spread: per-batch fan-out across roots, replay is a no-op") {
    val bases = (0 until 2).map(i => s"$tmp/stream-container$i")
    val control = s"$tmp/stream-control"
    val cfg = PartitionConfig(columnIndex = 3, maxPartitionCount = 4, seed = 17)
    val batch = LogDataGenerator.toCsvLines(
      LogDataGenerator.generate(spark, 300, seed = 11))

    graft.streaming.StreamingPrePartition
      .processBatch(batch, 7L, bases, control, cfg)
    val glob = bases.map(b => s"$b/data/batch=7/pid=*/*.txt")
    assert(spark.read.text(glob: _*).count() == 300)
    // spread honors pid % N
    val placed = bases.zipWithIndex.flatMap { case (b, i) =>
      Option(new java.io.File(s"$b/data/batch=7").listFiles())
        .getOrElse(Array.empty).filter(_.getName.startsWith("pid="))
        .map(f => (i, f.getName.stripPrefix("pid=").toInt))
    }
    assert(placed.nonEmpty && placed.forall { case (c, pid) => pid % 2 == c })

    // replay of the same batchId: marker short-circuits, nothing doubles
    graft.streaming.StreamingPrePartition
      .processBatch(batch, 7L, bases, control, cfg)
    assert(spark.read.text(glob: _*).count() == 300)
  }

  test("spread writer rerun overwrites (deterministic dest names, no dup)") {
    // a task retry / speculative attempt re-executes the same writer over
    // the same input partition; the deterministic part-<partition> dest
    // plus FIRST-WINS rename commit (dest is never overwritten; a losing
    // attempt deletes its own tmp) must leave exactly one file per dest —
    // the stale-but-byte-identical first file survives; callers clear the
    // dir for job-level overwrite. Rerun must never accumulate a second
    // file beside the committed one.
    val bases = (0 until 2).map(i => s"$tmp/rerun-container$i").toIndexedSeq
    val cfg = PartitionConfig(columnIndex = 3, maxPartitionCount = 4, seed = 17)
    val lines = LogDataGenerator.toCsvLines(
      LogDataGenerator.generate(spark, 200, seed = 5))
    val n1 = graft.operators.PrePartition
      .writeSpread(lines, cfg, bases, gzipOutput = false)
    val files1 = bases.flatMap(b =>
      Option(new java.io.File(b).listFiles()).getOrElse(Array.empty)
        .flatMap(d => d.listFiles()).map(_.toString)).sorted
    val n2 = graft.operators.PrePartition
      .writeSpread(lines, cfg, bases, gzipOutput = false)
    val files2 = bases.flatMap(b =>
      Option(new java.io.File(b).listFiles()).getOrElse(Array.empty)
        .flatMap(d => d.listFiles()).map(_.toString)).sorted
    assert(n1.values.map(_.records).sum == 200 && n2 == n1)
    assert(files1 == files2, "rerun must not add files")
    val glob = bases.map(b => s"$b/pid=*/*.txt")
    assert(spark.read.text(glob: _*).count() == 200)
  }

  test("B3: staging-container fetch filters TempStorage rows in order") {
    val rows = Resources.stagingContainers(spark, Resources.fixtureJson)
      .collect()
    assert(rows.length == 3)
    assert(rows.forall(_.getAs[String]("resource_type") == "TempStorage"))
    assert(rows.map(_.getAs[String]("storage_root")).toSeq ==
      (0 until 3).map(i => s"https://acct$i.blob.example/ingest-staging-$i"))
  }

  test("B4: engine query-service URI scalar fetch") {
    assert(Resources.queryServiceUri(spark, Resources.fixtureJson) ==
      "https://engine.example/v1/query")
  }
}

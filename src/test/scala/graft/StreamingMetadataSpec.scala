package graft

import graft.operators.{PartitionConfig, PrePartition}
import graft.plans.{GraftSettings, PartitionPolicy, PerfJournal}
import graft.sources.LogDataGenerator
import graft.streaming.StreamingPrePartition
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

class StreamingMetadataSpec extends GraftSparkSpec {

  private lazy val tmp = Files.createTempDirectory("graft-m34").toString

  test("policy JSON resolves to a runnable PartitionConfig (B1+B2)") {
    val policy =
      """{"PartitionKeys": [
        |  {"ColumnName": "Node", "Kind": "Hash",
        |   "Properties": {"MaxPartitionCount": 8, "Seed": 17}},
        |  {"ColumnName": "Timestamp", "Kind": "UniformRange", "Properties": {}}
        |]}""".stripMargin
    val cols = Seq("Id", "Timestamp", "Level", "Node", "ActivityId", "Text")
    val cfg = PartitionPolicy.resolve(spark, policy, cols)
    assert(cfg == PartitionConfig(3, 8, 17))
    // unknown column fails loudly
    val bad = policy.replace("Node", "Nope")
    assertThrows[IllegalArgumentException] {
      PartitionPolicy.resolve(spark, bad, cols)
    }
  }

  test("settings parse env-var names with reference defaults") {
    val defaults = GraftSettings.fromEnv(Map())
    assert(defaults.etlAction == "PrePartition")
    assert(defaults.format == "txt")
    assert(defaults.maxMbPerShard == 200)
    val s = GraftSettings.fromEnv(Map(
      "EtlAction" -> "Split", "InputCompression" -> "GZip",
      "HasHeaders" -> "true", "MaxMbPerShard" -> "2"))
    assert(s.etlAction == "Split" && s.inputCompression == "GZip")
    assert(s.hasHeaders && s.maxBytesPerShard == 2L * 1024 * 1024)
    assertThrows[IllegalArgumentException] {
      GraftSettings.fromEnv(Map("EtlAction" -> "Bogus"))
    }
  }

  test("perf journal collects observed row counters (A23)") {
    PerfJournal.reset()
    PerfJournal.install(spark)
    val df = PerfJournal.observed(
      LogDataGenerator.generate(spark, 100), "generated")
    df.write.format("noop").mode("overwrite").save()
    // listener fires asynchronously; poll for delivery
    val deadline = System.currentTimeMillis() + 10000
    while (!PerfJournal.snapshot().exists(_._1 == "generated") &&
      System.currentTimeMillis() < deadline) Thread.sleep(100)
    assert(PerfJournal.snapshot().exists { case (k, v) => k == "generated" && v == 100L })
  }

  test("streaming prepartition: micro-batches, checkpoint recovery, idempotent output") {
    val landing = s"$tmp/landing"
    val staging = s"$tmp/staging"
    val ckpt = s"$tmp/ckpt"
    new java.io.File(landing).mkdirs()
    val cfg = PartitionConfig(columnIndex = 3, maxPartitionCount = 4, seed = 17)

    def addBatch(from: Long, n: Long, suffix: String): Unit =
      LogDataGenerator.toCsvLines(
        LogDataGenerator.generate(spark, n, seed = from))
        .coalesce(1).write.mode("overwrite").text(s"$landing/b$suffix")

    addBatch(1, 500, "1")
    val q1 = StreamingPrePartition.start(spark, s"$landing/*/", staging, ckpt, cfg,
      trigger = Trigger.ProcessingTime("1 second"))
    q1.processAllAvailable()

    val count1 = spark.read.text(s"$staging/data").count()
    assert(count1 == 500)

    // second wave of files → new micro-batch
    addBatch(2, 300, "2")
    q1.processAllAvailable()
    q1.stop()
    assert(spark.read.text(s"$staging/data").count() == 800)

    // restart from the same checkpoint: nothing reprocessed
    val q2 = StreamingPrePartition.start(spark, s"$landing/*/", staging, ckpt, cfg,
      trigger = Trigger.ProcessingTime("1 second"))
    q2.processAllAvailable()
    q2.stop()
    assert(spark.read.text(s"$staging/data").count() == 800)

    // partition placement correct in streaming mode too (per-batch dirs)
    val mismatches = spark.read.format("text")
      .option("basePath", s"$staging/data").load(s"$staging/data/batch=*/pid=*")
      .withColumn("node", graft.functions.GraftFunctions.csvColumnAt(col("value"), 3))
      .withColumn("expected", graft.functions.GraftFunctions.xorFoldHash(col("node"), 17, 4))
      .filter(col("pid") =!= col("expected")).count()
    assert(mismatches == 0)
  }

  test("replayed batchId is a no-op (crash between data write and checkpoint)") {
    val staging = s"$tmp/staging-replay"
    val cfg = PartitionConfig(columnIndex = 3, maxPartitionCount = 4, seed = 17)
    val batch = LogDataGenerator.toCsvLines(
      LogDataGenerator.generate(spark, 200, seed = 7))

    StreamingPrePartition.processBatch(batch, batchId = 42L, Seq(staging), staging, cfg)
    assert(spark.read.text(s"$staging/data").count() == 200)
    // the replay: same batchId arrives again (at-least-once delivery)
    StreamingPrePartition.processBatch(batch, batchId = 42L, Seq(staging), staging, cfg)
    assert(spark.read.text(s"$staging/data").count() == 200)
    // a NEW batchId appends
    StreamingPrePartition.processBatch(batch, batchId = 43L, Seq(staging), staging, cfg)
    assert(spark.read.text(s"$staging/data").count() == 400)
  }
}

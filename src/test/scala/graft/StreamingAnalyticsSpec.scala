package graft

import java.sql.Timestamp

import graft.streaming.StreamingAnalytics
import graft.streaming.StreamingAnalytics.{Evt, Session}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** Event-time semantics of the streaming analytics operators, driven with
  * MemoryStream: windows finalize only when the watermark passes; sessions
  * close on gap or on event-time timeout.
  */
class StreamingAnalyticsSpec extends GraftSparkSpec {
  import spark.implicits._

  private def ts(sec: Long) = new Timestamp(sec * 1000L)

  test("watermarked tumbling window emits finalized windows once (append mode)") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val counts = StreamingAnalytics.windowedCounts(
      in.toDF().toDF("ts", "event_type"), windowLength = "1 minute",
      watermarkDelay = "10 seconds")
    val q = counts.writeStream.format("memory").queryName("win_counts")
      .outputMode(OutputMode.Append).start()
    try {
      // two events in window [0, 60), one in [60, 120)
      in.addData((ts(5), "click"), (ts(20), "click"), (ts(70), "view"))
      q.processAllAvailable()
      // the post-batch no-data batch advances the watermark to 60s and
      // finalizes [0,60) — but [60,120) must still be open: premature
      // emission of an unfinalized window fails here
      val mid = spark.table("win_counts")
        .select("ws", "event_type", "n").as[(Timestamp, String, Long)]
        .collect().toSeq
      assert(mid == Seq((ts(0), "click", 2L)),
        s"expected only the closed [0,60) window, got $mid")
      in.addData((ts(200), "click")) // push watermark past both windows
      q.processAllAvailable()
      in.addData((ts(400), "click"))
      q.processAllAvailable()
      // exact multiset: duplicates from double emission must fail, so no
      // toSet collapse — sorted Seq comparison
      val rows = spark.table("win_counts")
        .select("ws", "event_type", "n").as[(Timestamp, String, Long)]
        .collect().toSeq.sortBy(r => (r._1.getTime, r._2))
      // [180,240) (the ts=200 event) also closed once the watermark hit
      // 390; [360,420) (ts=400) is still open — exactly three rows
      assert(rows == Seq((ts(0), "click", 2L), (ts(60), "view", 1L),
        (ts(180), "click", 1L)), s"got $rows")
    } finally q.stop()
  }

  test("windowed heavy hitters: MG candidates per window cover the hot token") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val hh = StreamingAnalytics.windowedHeavyHitters(
      in.toDF().toDF("ts", "text"), k = 8,
      windowLength = "1 minute", watermarkDelay = "10 seconds")
    val q = hh.writeStream.format("memory").queryName("hh_out")
      .outputMode(OutputMode.Update).start()
    try {
      // window [0,60): "hot" appears 12x among 20 distinct cold tokens —
      // freq > N/(k+1) = 32/9, so MG(8) must keep it
      val hotDoc = Seq.fill(6)("hot").mkString(" ")
      in.addData((ts(5), s"$hotDoc c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"),
        (ts(20), s"$hotDoc d1 d2 d3 d4 d5 d6 d7 d8 d9 d10"))
      q.processAllAvailable()
      val rows = spark.table("hh_out")
        .select("ws", "candidates").as[(Timestamp, Seq[String])]
        .collect().toSeq
      val cands = rows.filter(_._1 == ts(0)).map(_._2).last
      assert(cands.length <= 8, s"state leaked past k: $cands")
      assert(cands.contains("hot"), s"hot token missing from $cands")
    } finally q.stop()
  }

  test("streaming dedup keeps the first occurrence per content hash") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Long)]
    val deduped = StreamingAnalytics.dedupStream(
      in.toDF().toDF("ts", "text", "doc_id"), watermarkDelay = "10 seconds")
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData((ts(100), "alpha", 1L), (ts(101), "beta", 2L))
      q.processAllAvailable()
      // duplicate content within the watermark window is dropped
      in.addData((ts(102), "alpha", 3L), (ts(103), "gamma", 4L))
      q.processAllAvailable()
      val got = spark.table("dedup_out").select("doc_id")
        .as[Long].collect().toSet
      assert(got == Set(1L, 2L, 4L), s"got $got")
    } finally q.stop()
  }

  test("stateful sessionization closes sessions on gap and on timeout") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Evt]
    val sessions = StreamingAnalytics.sessionize(
      in.toDS(), gapSeconds = 60, watermarkDelay = "5 seconds")
    val q = sessions.writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append).start()
    try {
      // user 1: two events 10s apart (one session), then 300s silence.
      // times start at 100 — a row whose event time equals the initial
      // watermark (0) is treated as late and dropped.
      in.addData(Evt(1L, ts(100)), Evt(1L, ts(110)))
      q.processAllAvailable()
      // same batch: user 1 reappears long after the gap → first session
      // closes inline; user 2 opens a session that will close by timeout
      in.addData(Evt(1L, ts(500)), Evt(2L, ts(490)))
      q.processAllAvailable()
      // advance the watermark far past everyone's last event + gap
      in.addData(Evt(3L, ts(1100)))
      q.processAllAvailable()
      in.addData(Evt(3L, ts(2100)))
      q.processAllAvailable()
      val got = spark.table("sessions").as[Session].collect()
        .map(s => (s.user_id, s.session_start.getTime / 1000,
          s.session_end.getTime / 1000, s.n_events)).toSet
      assert(got.contains((1L, 100L, 110L, 2L)), s"inline close missing: $got")
      assert(got.contains((1L, 500L, 500L, 1L)), s"timeout close missing: $got")
      assert(got.contains((2L, 490L, 490L, 1L)), s"timeout close missing: $got")
    } finally q.stop()
  }

  test("stream-stream join attributes clicks within the window only") {
    implicit val sc = spark.sqlContext
    val views = MemoryStream[(Long, Timestamp)]
    val clicks = MemoryStream[(Long, Timestamp)]
    val joined = StreamingAnalytics.attributedClicks(
      views.toDF().toDF("user_id", "ts"),
      clicks.toDF().toDF("user_id", "ts"),
      joinWindowSeconds = 60, watermarkDelay = "10 seconds")
    val q = joined.writeStream.format("memory").queryName("attrib")
      .outputMode(OutputMode.Append).start()
    try {
      // user 1 views at t=100; clicks at t=120 (in window), t=300 (out);
      // user 2 clicks with no view at all
      views.addData((1L, ts(100)))
      clicks.addData((1L, ts(120)), (1L, ts(300)), (2L, ts(130)))
      q.processAllAvailable()
      val got = spark.table("attrib")
        .select("v_user", "v_ts", "c_ts")
        .as[(Long, Timestamp, Timestamp)].collect().toSet
      assert(got == Set((1L, ts(100), ts(120))), s"got $got")
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER emits the unattributed view exactly once") {
    implicit val sc = spark.sqlContext
    val views = MemoryStream[(Long, Timestamp)]
    val clicks = MemoryStream[(Long, Timestamp)]
    val joined = StreamingAnalytics.attributedClicks(
      views.toDF().toDF("user_id", "ts"),
      clicks.toDF().toDF("user_id", "ts"),
      joinWindowSeconds = 60, watermarkDelay = "10 seconds",
      joinType = "leftOuter")
    val q = joined.writeStream.format("memory").queryName("attrib_lo")
      .outputMode(OutputMode.Append).start()
    try {
      views.addData((1L, ts(100)), (2L, ts(105)))
      clicks.addData((1L, ts(120)))
      q.processAllAvailable()
      // user 2's view cannot null-emit yet: a click at <=165 could still
      // arrive while the click watermark sits at 110
      val early = spark.table("attrib_lo")
        .filter("v_user = 2").count()
      assert(early == 0, "null-extended row emitted before watermark proof")
      // push both watermarks far past 105 + 60 + delay
      views.addData((9L, ts(1000)))
      clicks.addData((9L, ts(1000)))
      q.processAllAvailable()
      views.addData((9L, ts(2000)))
      clicks.addData((9L, ts(2000)))
      q.processAllAvailable()
      val got = spark.table("attrib_lo")
        .select("v_user", "c_ts").as[(Long, Option[Timestamp])]
        .collect().filter(_._1 == 2L)
      assert(got.toSeq == Seq((2L, None)),
        s"expected exactly one null-extended row for user 2, got ${got.toSeq}")
    } finally q.stop()
  }

  test("upsertLatest keeps the newest row per key across batches and replays idempotently") {
    implicit val sc = spark.sqlContext
    val base = s"/tmp/graft-upsert-${System.nanoTime()}"
    val in = MemoryStream[(Long, Timestamp, Double)]
    val q = StreamingAnalytics.upsertLatest(
      in.toDF().toDF("k", "ts", "v"), "k", "ts",
      s"$base/table", s"$base/ckpt", nBuckets = 4)
    try {
      in.addData((1L, ts(10), 1.0), (2L, ts(10), 2.0))
      q.processAllAvailable()
      in.addData((2L, ts(20), 2.5), (3L, ts(5), 3.0),
        (3L, ts(6), 3.5)) // key 3 updated twice within one batch
      q.processAllAvailable()
      def table() = spark.read.parquet(s"$base/table")
        .select("k", "v").as[(Long, Double)].collect().sorted.toSeq
      assert(table() == Seq((1L, 1.0), (2L, 2.5), (3L, 3.5)))
      // replay: re-applying an already-applied batch must change nothing
      // (older ts rows lose the argmax; equal rows re-win identically)
      StreamingAnalytics.upsertBatch(
        Seq((2L, ts(20), 2.5), (3L, ts(5), 3.0)).toDF("k", "ts", "v"),
        "k", "ts", s"$base/table", nBuckets = 4)
      assert(table() == Seq((1L, 1.0), (2L, 2.5), (3L, 3.5)))
      // out-of-order late update: older ts never overwrites newer
      StreamingAnalytics.upsertBatch(
        Seq((2L, ts(15), 9.9)).toDF("k", "ts", "v"),
        "k", "ts", s"$base/table", nBuckets = 4)
      assert(table() == Seq((1L, 1.0), (2L, 2.5), (3L, 3.5)))
    } finally q.stop()
  }

  test("session_window merges gap-bounded events and appends closed sessions once") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp)]
    val sess = StreamingAnalytics.sessionWindowStats(
      in.toDF().toDF("user_id", "ts"), gapSeconds = 30,
      watermarkDelay = "10 seconds")
    val q = sess.writeStream.format("memory").queryName("sw_out")
      .outputMode(OutputMode.Append).start()
    try {
      // user 1: 0,20,40 chain (gaps <= 30) into ONE session; user 2: lone
      // event. Split across two batches so the state-store merge runs.
      in.addData((1L, ts(0)), (2L, ts(5)))
      q.processAllAvailable()
      in.addData((1L, ts(20)), (1L, ts(40)))
      q.processAllAvailable()
      in.addData((9L, ts(500))) // watermark -> 490: closes everything
      q.processAllAvailable()
      val rows = spark.table("sw_out")
        .as[(Long, Timestamp, Timestamp, Long)]
        .collect().toSeq.sortBy(r => (r._1, r._2.getTime))
      // session_window end = last event + gap
      assert(rows == Seq((1L, ts(0), ts(70), 3L), (2L, ts(5), ts(35), 1L)),
        s"got $rows")
    } finally q.stop()
  }

  test("streaming HLL matches the batch formula exactly and absorbs replays") {
    import StreamingAnalytics.SrcTok
    implicit val sc = spark.sqlContext
    val in = MemoryStream[SrcTok]
    val q = StreamingAnalytics.streamingDistinct(in.toDS())
      .writeStream.format("memory").queryName("hll_out")
      .outputMode(OutputMode.Append).start()
    try {
      val b1 = (1 to 40).map(i => SrcTok("s1", s"tok$i"))
      val b2 = (30 to 70).map(i => SrcTok("s1", s"tok$i")) // 11 dup, 30 new
      in.addData(b1: _*)
      q.processAllAvailable()
      in.addData(b2: _*)
      q.processAllAvailable()
      val last = spark.table("hll_out")
        .orderBy(org.apache.spark.sql.functions.desc("n_seen"))
        .as[StreamingAnalytics.HllEst].head()
      assert(last.n_seen == 81)
      // the streaming state must agree EXACTLY with a cold batch fold of
      // the union — register max absorbs duplication and batch order
      val offline = (1 to 70).map(i => s"tok$i")
        .foldLeft(new Array[Int](graft.functions.Hll.m))(
          graft.functions.Hll.update)
      assert(last.hll_est == graft.functions.Hll.estimate(offline))
      // replaying batch 2 wholesale must not move the estimate
      in.addData(b2: _*)
      q.processAllAvailable()
      val replayed = spark.table("hll_out")
        .orderBy(org.apache.spark.sql.functions.desc("n_seen"))
        .as[StreamingAnalytics.HllEst].head()
      assert(replayed.hll_est == last.hll_est)
      // and the 70-distinct estimate is inside HLL's documented error
      // envelope for m=64 (~13% rse): sanity, not tautology
      assert(math.abs(replayed.hll_est - 70) <= 21,
        s"estimate ${replayed.hll_est} too far from 70")
    } finally q.stop()
  }

  test("JVM Hll registers are bit-identical to the d48 SQL expression") {
    import spark.implicits._
    val toks = (1 to 500).map(i => s"w$i")
    val sql = toks.toDF("token")
      .selectExpr("token", "md5(token) AS h")
      .selectExpr("token",
        "CAST(conv(substring(h, 1, 2), 16, 10) AS BIGINT) % 64 AS bucket",
        "regexp_replace(substring(h, 3, 12), '^0+', '') AS tz")
      .selectExpr("token", "bucket",
        """CASE WHEN tz = '' THEN 49
          |ELSE (12 - length(tz)) * 4 +
          |  CASE WHEN substring(tz, 1, 1) = '1' THEN 3
          |       WHEN substring(tz, 1, 1) IN ('2', '3') THEN 2
          |       WHEN substring(tz, 1, 1) IN ('4', '5', '6', '7') THEN 1
          |       ELSE 0 END + 1 END AS rho""".stripMargin)
      .as[(String, Long, Int)].collect()
    sql.foreach { case (tok, bucket, rho) =>
      assert(graft.functions.Hll.registerOf(tok) == ((bucket.toInt, rho)),
        s"mismatch on $tok")
    }
  }

  test("wet export stream: waves of archives, byte-identical on checkpoint replay") {
    val root = java.nio.file.Files.createTempDirectory("wetstream").toFile
    val landing = new java.io.File(root, "landing"); landing.mkdirs()
    val out = new java.io.File(root, "out").getAbsolutePath
    val ckpt = new java.io.File(root, "ckpt").getAbsolutePath
    import spark.implicits._
    def land(name: String, docs: Seq[(Long, String, String)]): Unit =
      docs.toDF("doc_id", "source", "text").coalesce(1)
        .write.mode("append").parquet(landing.getAbsolutePath)
    def schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("source",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    def start() = StreamingAnalytics.wetExportIngest(
      spark.readStream.schema(schema).parquet(landing.getAbsolutePath),
      out, ckpt, nShards = 2)
    try {
      land("a", Seq((0L, "h0.example", "alpha body"),
        (1L, "h1.example", "beta body"), (2L, "h0.example", "gamma body")))
      val q = start()
      q.processAllAvailable()
      q.stop()
      val wave0 = new java.io.File(out, "wave=0")
      val files0 = wave0.listFiles().map(_.getName)
        .filterNot(_.startsWith(".")).sorted
      assert(files0.toSeq === Seq("part-00000.warc.wet.gz",
        "part-00001.warc.wet.gz"))
      val bytes0 = files0.map(f => java.nio.file.Files.readAllBytes(
        new java.io.File(wave0, f).toPath).toSeq)
      // the archives re-ingest: all three docs back
      val back = graft.sources.WarcSource.wetDocs(spark,
        out + "/wave=*/part-*.warc.wet.gz")
      assert(back.count() === 3)
      // second wave appends ITS OWN wave dir, wave 0 untouched
      land("b", Seq((3L, "h1.example", "delta body")))
      val q2 = start()
      q2.processAllAvailable()
      q2.stop()
      assert(new java.io.File(out, "wave=1").exists())
      val bytes0b = files0.map(f => java.nio.file.Files.readAllBytes(
        new java.io.File(wave0, f).toPath).toSeq)
      assert(bytes0b.toSeq === bytes0.toSeq)
      assert(graft.sources.WarcSource.wetDocs(spark,
        out + "/wave=*/part-*.warc.wet.gz").count() === 4)
      // replay wave 0 WITHOUT the checkpoint: deterministic bytes +
      // first-wins rename leave the originals byte-identical
      val ckpt2 = new java.io.File(root, "ckpt2").getAbsolutePath
      val q3 = StreamingAnalytics.wetExportIngest(
        spark.readStream.schema(schema).parquet(landing.getAbsolutePath),
        out, ckpt2, nShards = 2)
      q3.processAllAvailable()
      q3.stop()
      val bytes0c = files0.map(f => java.nio.file.Files.readAllBytes(
        new java.io.File(wave0, f).toPath).toSeq)
      assert(bytes0c.toSeq === bytes0.toSeq)
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(root)
    }
  }

  test("warc export stream with dedup: cross-wave revisits resolve; replay is byte-identical") {
    val root = java.nio.file.Files.createTempDirectory("warcdds").toFile
    val landing = new java.io.File(root, "landing"); landing.mkdirs()
    val out = new java.io.File(root, "out").getAbsolutePath
    val ckpt = new java.io.File(root, "ckpt").getAbsolutePath
    import spark.implicits._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("uri",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("status",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("content_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("body",
        org.apache.spark.sql.types.BinaryType)))
    def start(ck: String) = StreamingAnalytics.warcExportDedupIngest(
      spark.readStream.schema(schema).parquet(landing.getAbsolutePath),
      out, ck, nShards = 2)
    def land(rows: Seq[(String, Int, String, Array[Byte])]): Unit =
      rows.toDF("uri", "status", "content_type", "body")
        .coalesce(1).write.mode("append").parquet(landing.getAbsolutePath)
    try {
      // wave 0: bodyX shared by two URIs (in-batch dedup), bodyY unique
      land(Seq(
        ("http://h0/p/1", 200, "text/plain", "bodyX".getBytes("UTF-8")),
        ("http://h1/p/2", 200, "text/plain", "bodyX".getBytes("UTF-8")),
        ("http://h0/p/3", 200, "text/plain", "bodyY".getBytes("UTF-8"))))
      val q = start(ckpt)
      q.processAllAvailable(); q.stop()
      // wave 1: bodyX AGAIN (cross-wave revisit to the wave-0 winner),
      // bodyZ new
      land(Seq(
        ("http://h2/p/4", 200, "text/plain", "bodyX".getBytes("UTF-8")),
        ("http://h2/p/5", 200, "text/plain", "bodyZ".getBytes("UTF-8"))))
      val q2 = start(ckpt)
      q2.processAllAvailable(); q2.stop()
      val glob = out + "/wave=*/part-*.warc.gz"
      // 3 full responses (X-winner, Y, Z), 2 revisits (in-batch +
      // CROSS-WAVE)
      val revisits = graft.sources.WarcSource.warcRevisits(spark, glob)
      assert(revisits.count() === 2)
      val revs = revisits.collect()
        .map(r => r.getString(1) -> r.getString(5)).toMap
      assert(revs === Map(
        "http://h1/p/2" -> "http://h0/p/1",
        "http://h2/p/4" -> "http://h0/p/1"))
      // the index carries exactly the winners, one wave each
      val idx = spark.read.parquet(out + "/digest-index")
        .select("digest", "orig").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(idx.values.toSet ===
        Set("http://h0/p/1", "http://h0/p/3", "http://h2/p/5"))
      // the loop closes on the engine's own multi-wave output:
      // warc-index with `relativeTo` keeps the wave-qualified archive
      // paths (basenames repeat across waves), so resolveRevisits
      // fetches against the export ROOT across all waves at once
      val index = graft.sources.CdxSource.warcIndexFiles(spark, glob,
        relativeTo = out)
      assert(index.count() === 3)
      assert(index.select("filename").collect()
        .forall(_.getString(0).startsWith("wave=")))
      val resolved = graft.sources.CdxSource.resolveRevisits(spark, out,
        revisits, index)
      assert(resolved.filter(
        org.apache.spark.sql.functions.col("resolved_from").isNull)
        .count() === 0)
      resolved.collect().foreach { r =>
        assert(r.getString(3) === "bodyX")
      }
      // replay with a fresh checkpoint: the landing re-batches (all 5
      // rows land as one batch 0), so a shard file the original wave
      // never materialized CAN appear — the first-wins guarantee is
      // that no EXISTING shard's bytes ever change (a checkpointed
      // recovery replays identical batches, where the file set is
      // stable too; the prior-state exclusion keeps winners identical
      // either way)
      val wave0 = new java.io.File(out, "wave=0")
      val before = wave0.listFiles().filter(_.getName.endsWith(".warc.gz"))
        .map(f => f.getName ->
          java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap
      val q3 = start(new java.io.File(root, "ckpt2").getAbsolutePath)
      q3.processAllAvailable(); q3.stop()
      before.foreach { case (name, bytes) =>
        assert(java.nio.file.Files.readAllBytes(
          new java.io.File(wave0, name).toPath).toSeq === bytes,
          s"replay rewrote existing shard $name")
      }
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(root)
    }
  }

  test("warc export stream with dedup: a repeat spanning THREE batches " +
      "resolves, and a crash between archive and index write replays " +
      "byte-identical (r19 verdict item 7)") {
    val root = java.nio.file.Files.createTempDirectory("warcdd3").toFile
    val landing = new java.io.File(root, "landing"); landing.mkdirs()
    val out = new java.io.File(root, "out").getAbsolutePath
    val ckpt = new java.io.File(root, "ckpt")
    import spark.implicits._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("uri",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("status",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("content_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("body",
        org.apache.spark.sql.types.BinaryType)))
    def start(ck: String) = StreamingAnalytics.warcExportDedupIngest(
      spark.readStream.schema(schema).parquet(landing.getAbsolutePath),
      out, ck, nShards = 2)
    def land(rows: Seq[(String, Int, String, Array[Byte])]): Unit =
      rows.toDF("uri", "status", "content_type", "body")
        .coalesce(1).write.mode("append").parquet(landing.getAbsolutePath)
    def runOnce(ck: String): Unit = {
      val q = start(ck); q.processAllAvailable(); q.stop()
    }
    def cpDir(src: java.io.File, dst: java.io.File): Unit = {
      dst.mkdirs()
      src.listFiles().foreach { f =>
        val t = new java.io.File(dst, f.getName)
        if (f.isDirectory) cpDir(f, t)
        else java.nio.file.Files.copy(f.toPath, t.toPath)
      }
    }
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    try {
      // batch 0: bodyQ's first capture + an unrelated page
      land(Seq(
        ("http://h0/a/1", 200, "text/plain", "bodyQ".getBytes("UTF-8")),
        ("http://h0/a/2", 200, "text/plain", "bodyR".getBytes("UTF-8"))))
      runOnce(ckpt.getAbsolutePath)
      // batch 1: unrelated only — the repeat must survive an
      // INTERVENING batch, not just wave-to-next-wave adjacency
      land(Seq(
        ("http://h1/b/3", 200, "text/plain", "bodyS".getBytes("UTF-8"))))
      runOnce(ckpt.getAbsolutePath)
      // snapshot the checkpoint BEFORE batch 2 — the crash arm below
      // restarts from here, exactly what a dead driver leaves behind
      val ckptCrash = new java.io.File(root, "ckpt-crash")
      cpDir(ckpt, ckptCrash)
      // batch 2: bodyQ AGAIN (a revisit spanning two batch boundaries)
      // plus bodyT, a NEW winner — so the wave-2 index append is real
      // state the crash arm below destroys and the replay must restore
      land(Seq(
        ("http://h2/c/4", 200, "text/plain", "bodyQ".getBytes("UTF-8")),
        ("http://h2/c/5", 200, "text/plain", "bodyT".getBytes("UTF-8"))))
      runOnce(ckpt.getAbsolutePath)
      assert(new java.io.File(out, "wave=2").exists())
      val glob = out + "/wave=*/part-*.warc.gz"
      val revisits = graft.sources.WarcSource.warcRevisits(spark, glob)
      assert(revisits.count() === 1)
      val rr = revisits.head()
      assert(rr.getString(1) === "http://h2/c/4")
      assert(rr.getString(5) === "http://h0/a/1",
        "the batch-2 revisit must point at the BATCH-0 winner")
      // the loop closes over the accumulated three-wave archive set
      val index = graft.sources.CdxSource.warcIndexFiles(spark, glob,
        relativeTo = out)
      assert(index.count() === 4) // Q-winner, R, S, T
      val resolved = graft.sources.CdxSource.resolveRevisits(spark, out,
        revisits, index)
      assert(resolved.count() === 1)
      assert(resolved.head().getString(3) === "bodyQ")
      // ---- crash arm: kill between the two writes of batch 2 ----
      // the documented crash window is AFTER writeWarcDecided landed
      // the wave-2 archives but BEFORE the digest-index wave-2 append;
      // reproduce that exact on-disk state: keep the wave=2 archives,
      // delete the index wave, and restart from the pre-batch-2
      // checkpoint (what the dead driver left)
      val wave2 = new java.io.File(out, "wave=2")
      val before = wave2.listFiles().filter(_.getName.endsWith(".warc.gz"))
        .map(f => f.getName ->
          java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap
      assert(before.nonEmpty)
      rm(new java.io.File(out, "digest-index/wave=2"))
      runOnce(ckptCrash.getAbsolutePath)
      // the replayed batch read prior state EXCLUDING the crash-partial
      // wave (wave < batchId), so winners are identical, the archive
      // bytes are byte-identical under first-wins, and the index wave
      // is restored
      before.foreach { case (name, bytes) =>
        assert(java.nio.file.Files.readAllBytes(
          new java.io.File(wave2, name).toPath).toSeq === bytes,
          s"crash replay rewrote shard $name")
      }
      // the destroyed wave-2 index state is RESTORED: bodyT's winner
      // is back, and bodyQ's winner is STILL the batch-0 original (the
      // replay did not re-elect a winner for an already-won digest)
      val origs = spark.read.parquet(out + "/digest-index")
        .select("orig").collect().map(_.getString(0)).toSet
      assert(origs.contains("http://h2/c/5"),
        "crash replay failed to restore the wave-2 index append")
      assert(origs.contains("http://h0/a/1"))
      assert(!origs.contains("http://h2/c/4"),
        "crash replay re-elected a winner for an already-won digest")
      // and the revisit still resolves end to end
      val resolved2 = graft.sources.CdxSource.resolveRevisits(spark, out,
        graft.sources.WarcSource.warcRevisits(spark, glob),
        graft.sources.CdxSource.warcIndexFiles(spark, glob, relativeTo = out))
      assert(resolved2.count() === 1 &&
        resolved2.head().getString(3) === "bodyQ")
    } finally rm(root)
  }

  test("warc export stream: waves of response archives re-ingest and replay safely") {
    val root = java.nio.file.Files.createTempDirectory("warcstream").toFile
    val landing = new java.io.File(root, "landing"); landing.mkdirs()
    val out = new java.io.File(root, "out").getAbsolutePath
    val ckpt = new java.io.File(root, "ckpt").getAbsolutePath
    import spark.implicits._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("uri",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("status",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("content_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("body",
        org.apache.spark.sql.types.BinaryType)))
    try {
      Seq(("http://h0/p/1", 200, "text/plain", "one body".getBytes("UTF-8")),
          ("http://h1/p/2", 404, "text/plain", "two body".getBytes("UTF-8")))
        .toDF("uri", "status", "content_type", "body")
        .coalesce(1).write.mode("append").parquet(landing.getAbsolutePath)
      val q = StreamingAnalytics.warcExportIngest(
        spark.readStream.schema(schema).parquet(landing.getAbsolutePath),
        out, ckpt, nShards = 1)
      q.processAllAvailable()
      q.stop()
      val got = graft.sources.WarcSource.warcFiles(spark,
          out + "/wave=*/part-*.warc.gz")
        .select("uri", "status", "text").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
      assert(got === Set(("http://h0/p/1", 200, "one body"),
        ("http://h1/p/2", 404, "two body")))
      // replay without the checkpoint: first-wins leaves bytes identical
      val f0 = new java.io.File(out, "wave=0").listFiles()
        .filter(_.getName.endsWith(".warc.gz")).head
      val before = java.nio.file.Files.readAllBytes(f0.toPath).toSeq
      val q2 = StreamingAnalytics.warcExportIngest(
        spark.readStream.schema(schema).parquet(landing.getAbsolutePath),
        out, new java.io.File(root, "ckpt2").getAbsolutePath, nShards = 1)
      q2.processAllAvailable()
      q2.stop()
      assert(java.nio.file.Files.readAllBytes(f0.toPath).toSeq === before)
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(root)
    }
  }

  test("archive decoders: a vanished file is one poison row under lenient, a throw under strict") {
    import graft.sources.{CdxSource, TarSource, WarcSource, WatSource, ZipSource}
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = java.nio.file.Files.createTempDirectory("vanished").toFile
    val gone = new java.io.File(dir, "gone").getAbsolutePath
    // the per-file decoder each ingest server shares with its batch arm,
    // as lenient => rows, with the poison row it owes `gone`
    val families: Seq[(String, Boolean => Iterator[Product], Product)] = Seq(
      ("warc", WarcSource.responseRows(gone, conf, _, mainContent = false),
        (gone, null, -1, null, "damage:container")),
      ("tar", TarSource.tarRows(gone, conf, _), (gone, null, null, -1L)),
      ("zip", ZipSource.zipRows(gone, conf, _), (gone, null, -1, -1L, false)),
      ("wat", WatSource.watRows(gone, conf, _), (gone, null, null, -1, -1)),
      ("cdx fetch", CdxSource.fetchRows(gone, dir.getAbsolutePath, conf, _),
        (gone, null, -1, null, "damage:container")))
    try families.foreach { case (family, decode, poison) =>
      assert(decode(true).toList === List(poison), family)
      // the open is deferred: building the strict iterator succeeds,
      // its first use throws
      val strict = decode(false)
      intercept[java.io.FileNotFoundException](strict.hasNext)
    } finally dir.delete()
  }
}

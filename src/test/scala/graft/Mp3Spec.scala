package graft

import graft.sources.Mp3Source

/** MP3 frame-header walker (x133): fixture round-trip against the
  * doc_id arithmetic, VBR header claims vs the measured walk, and the
  * hostile-input rules — strict refusals by name, lenient resync
  * across garbage, truncation honesty.
  */
class Mp3Spec extends GraftSparkSpec {

  private val rates = Array(44100, 48000, 32000)
  private val kbpsTab = Array(64, 96, 128, 160, 192)

  test("mp3: fixture walk matches the doc_id arithmetic, ID3 skipped, " +
      "VBR claims equal the measured totals") {
    Seq(0L, 1L, 2L, 3L, 4L, 5L, 6L, 7L, 11L, 12L, 23L, 100L).foreach { id =>
      val bytes = Mp3Source.mp3Of(id)
      val (frames, meta) = Mp3Source.walk(bytes)
      val n = (id % 7 + 3).toInt
      val sr = rates((id % 3).toInt)
      assert(meta.nFrames === n, s"doc $id")
      assert(meta.junkBytes === 0 && !meta.truncated)
      assert(meta.id3Bytes === (if (id % 3 == 0) (id % 50 + 20).toInt else 0))
      assert(meta.hasXing === (id % 4 == 0))
      assert(meta.hasVbri === (id % 4 == 2))
      val lead = meta.id3Bytes +
        (if (id % 4 == 0 || id % 4 == 2) 144000 * 128 / sr else 0)
      var off = lead.toLong
      frames.zipWithIndex.foreach { case (f, i) =>
        val kbps = kbpsTab(((id + i) % 5).toInt)
        val pad = ((id + i) % 2).toInt
        assert(f.bitrateKbps === kbps, s"doc $id frame $i")
        assert(f.sampleRate === sr)
        assert(f.channels === (if (id % 2 == 1) 1 else 2))
        assert(f.padding === pad)
        assert(f.frameBytes === 144000 * kbps / sr + pad)
        assert(f.offset === off, s"doc $id frame $i offset")
        assert(f.durationUs === 1152000000L / sr)
        off += f.frameBytes
      }
      // the whole buffer is accounted for: lead + audio = file size
      assert(off === bytes.length.toLong, s"doc $id trailing bytes")
      // VBR header claims are the TRUE totals, not copies of a wish
      if (meta.hasXing || meta.hasVbri) {
        assert(meta.vbrFrames === n)
        assert(meta.vbrBytes === frames.map(_.frameBytes.toLong).sum)
      }
    }
  }

  test("mp3: strict refusals are by name — truncation, free-format, " +
      "reserved bits, ID3 lies") {
    val good = Mp3Source.mp3Of(1L) // no ID3, no VBR lead (1%3!=0, 1%4!=0,2)
    // truncation mid-frame
    val cut = good.take(good.length - 3).toArray
    val e1 = intercept[IllegalArgumentException](Mp3Source.walk(cut))
    assert(e1.getMessage.contains("advertises") ||
      e1.getMessage.contains("truncated"))
    // free-format bitrate (index 0)
    val ff = good.clone(); ff(2) = (ff(2) & 0x0f).toByte
    assert(intercept[IllegalArgumentException](Mp3Source.walk(ff))
      .getMessage.contains("free-format"))
    // reserved bitrate index 15
    val rb = good.clone(); rb(2) = (rb(2) | 0xf0).toByte
    assert(intercept[IllegalArgumentException](Mp3Source.walk(rb))
      .getMessage.contains("reserved"))
    // reserved samplerate index 3
    val rs = good.clone(); rs(2) = (rs(2) | 0x0c).toByte
    assert(intercept[IllegalArgumentException](Mp3Source.walk(rs))
      .getMessage.contains("reserved"))
    // MPEG-2 / wrong layer bits are a named refusal, not a guess
    val v2 = good.clone(); v2(1) = 0xf3.toByte // version bits 10 = MPEG-2
    assert(intercept[IllegalArgumentException](Mp3Source.walk(v2))
      .getMessage.contains("named refusal"))
    // ID3 advertising payload past EOF
    val id3 = Array[Byte]('I', 'D', '3', 3, 0, 0, 0, 0, 0x7f, 0x7f)
    assert(intercept[IllegalArgumentException](Mp3Source.walk(id3))
      .getMessage.contains("past EOF"))
    // non-syncsafe ID3 length byte
    val bad = Array[Byte]('I', 'D', '3', 3, 0, 0, 0x80.toByte, 0, 0, 0)
    assert(intercept[IllegalArgumentException](Mp3Source.walk(bad))
      .getMessage.contains("high bit"))
  }

  test("mp3: lenient mode resyncs across garbage and reports truncation " +
      "instead of dying") {
    val id = 1L
    val good = Mp3Source.mp3Of(id)
    val (cleanFrames, _) = Mp3Source.walk(good)
    // splice zero-garbage between the first and second frame: the
    // walker must resync at the second frame's header and count the
    // skipped bytes
    val f0 = cleanFrames.head.frameBytes
    val garbage = Array.fill[Byte](37)(0)
    val torn = good.take(f0) ++ garbage ++ good.drop(f0)
    val (fs, m) = Mp3Source.walk(torn.toArray, strict = false)
    assert(fs.size === cleanFrames.size)
    assert(m.junkBytes === 37)
    assert(fs(1).offset === cleanFrames(1).offset + 37)
    // truncation in lenient mode: frames before the cut survive,
    // the truncated flag is raised
    val cut = good.take(good.length - 3).toArray
    val (fs2, m2) = Mp3Source.walk(cut, strict = false)
    assert(m2.truncated && fs2.size === cleanFrames.size - 1)
    // leading garbage before the first real header
    val led = (Array.fill[Byte](11)(0) ++ good).toArray
    val (fs3, m3) = Mp3Source.walk(led, strict = false)
    assert(fs3.size === cleanFrames.size && m3.junkBytes === 11)
  }

  test("mp3: the Spark frame table runs distributed and matches the walk") {
    import spark.implicits._
    val docs = (0L until 40L).toDF("doc_id")
    val frames = Mp3Source.mp3Frames(spark, Mp3Source.synthesizeMp3(spark, docs))
      .collect()
    val want = (0L until 40L).flatMap { id =>
      Mp3Source.walk(Mp3Source.mp3Of(id))._1.map(f => (id, f.frameIdx))
    }.toSet
    assert(frames.map(r => (r.getLong(0), r.getInt(1))).toSet === want)
    val meta = Mp3Source.mp3Meta(spark, Mp3Source.synthesizeMp3(spark, docs))
    assert(meta.count() === 40)
    // duration: every frame is 1152 samples — ms totals are exact
    val m0 = meta.filter($"doc_id" === 0L).head()
    assert(m0.getAs[Long]("duration_ms") ===
      3L * (1152000000L / 44100) / 1000)
  }

  test("mp3: the fixture frame compiles under whole-stage codegen") {
    import spark.implicits._
    val docs = (0L until 8L).toDF("doc_id")
    // fallback=false makes a codegen compile failure throw instead of
    // silently dropping to interpreted execution
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val got = Mp3Source.synthesizeMp3(spark, docs).as[(Long, Array[Byte])]
        .collect().map { case (id, b) => id -> b.toSeq }.toMap
      assert(got === (0L until 8L).map(id => id -> Mp3Source.mp3Of(id).toSeq).toMap)
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }
}

package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MPEG-1 Layer III (MP3) frame-header walker — compressed-audio
  * METADATA for a multimodal corpus without a decoder, the same
  * meta-walk treatment the engine gives ISO-BMFF/Matroska video
  * (reference seam: the reference has no media handling at all — this
  * is extension surface; the container-walk discipline mirrors
  * `Multimodal.mp4SampleTable` and `MkvSource`). Real multimodal
  * corpora are MP3/AAC/Opus-dominated while the decode surface here is
  * WAV/PCM — the frame walk surfaces what a curation pipeline actually
  * consumes (bitrate, samplerate, channels, per-frame byte ranges =
  * the seekable segment table, duration), and full Layer III decode
  * (hybrid filterbank + Huffman) stays a NAMED refusal, like lossy VP8.
  *
  * Grammar walked (ISO 11172-3):
  *  - optional ID3v2 prefix: "ID3", 2 version bytes, 1 flag byte, and
  *    a 4-byte SYNCSAFE length (7 bits per byte — the whole point is
  *    that tag bytes can never alias a frame sync); the walker skips
  *    the advertised payload.
  *  - frame header: 11 sync bits (0xFFE), version/layer/protection,
  *    4-bit bitrate index, 2-bit samplerate index, padding bit,
  *    channel mode. Frame length = 144000·kbps/samplerate + padding
  *    for MPEG-1 Layer III; every frame carries 1152 samples, so
  *    per-frame duration is 1152e6/samplerate microseconds.
  *  - Xing/Info or VBRI VBR header in the FIRST frame's payload
  *    (Xing sits after the side info — 32 bytes stereo / 17 mono;
  *    VBRI at fixed offset 32 after the header): total frame and byte
  *    counts a VBR file cannot carry in any single frame header. The
  *    walker surfaces the claims; the spec pins them against the
  *    measured walk.
  *
  * Hostile-input rules (the GifSource/MkvSource discipline):
  *  - strict mode rejects BY NAME: free-format bitrate (index 0),
  *    reserved bitrate index 15, reserved samplerate index 3,
  *    reserved layer/version bits, truncation mid-frame, ID3 length
  *    past EOF.
  *  - lenient mode RESYNCS: on a bad header it scans forward for the
  *    next plausible sync (bounded by the buffer, no allocation), and
  *    counts the skipped bytes in `junk_bytes` instead of dying —
  *    real crawl audio carries torn tags and mid-stream garbage.
  *
  * 100 TB shape: a narrow per-row map over a binary column — no
  * shuffle, no driver state; the walk is O(n_frames) with O(1)
  * allocation (header arithmetic only, payloads never copied).
  */
object Mp3Source {

  /** kbps for MPEG-1 Layer III bitrate indexes 1..14 (0 = free-format,
    * 15 = reserved — both refused).
    */
  private val Bitrates: Array[Int] =
    Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
  private val SampleRates: Array[Int] = Array(44100, 48000, 32000)

  final case class Mp3Frame(
      frameIdx: Int, offset: Long, frameBytes: Int, bitrateKbps: Int,
      sampleRate: Int, channels: Int, padding: Int, durationUs: Long)

  final case class Mp3Meta(
      nFrames: Int, id3Bytes: Int, hasXing: Boolean, hasVbri: Boolean,
      vbrFrames: Int, vbrBytes: Long, junkBytes: Long, truncated: Boolean)

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException("mp3: " + msg)

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff

  /** ID3v2 prefix length (header + advertised payload), 0 if absent.
    * The 4 length bytes are syncsafe: the high bit of each must be 0.
    */
  private def id3Len(b: Array[Byte]): Int = {
    if (b.length < 10 || b(0) != 'I' || b(1) != 'D' || b(2) != '3') return 0
    var sz = 0
    var i = 6
    while (i < 10) {
      val v = u8(b, i)
      if ((v & 0x80) != 0) fail("ID3v2 length byte with high bit set")
      sz = (sz << 7) | v
      i += 1
    }
    val total = 10 + sz
    if (total > b.length) fail(s"ID3v2 advertises $sz payload bytes past EOF")
    total
  }

  /** Parse the 4-byte header at `off`; None if the bytes are not a
    * syncable MPEG-1 Layer III header (lenient resync decides what to
    * do with that — strict mode names the first defect it hits).
    */
  private def headerAt(b: Array[Byte], off: Int, strict: Boolean)
      : Option[(Int, Int, Int, Int)] = {
    if (off + 4 > b.length) {
      if (strict) fail(s"truncated header at offset $off")
      return None
    }
    val b1 = u8(b, off); val b2 = u8(b, off + 1)
    val b3 = u8(b, off + 2); val b4 = u8(b, off + 3)
    if (b1 != 0xff || (b2 & 0xe0) != 0xe0) {
      if (strict) fail(f"lost frame sync at offset $off (byte 0x$b1%02x)")
      return None
    }
    val version = (b2 >> 3) & 3 // 3 = MPEG-1
    val layer = (b2 >> 1) & 3   // 1 = Layer III
    if (version != 3 || layer != 1) {
      if (strict) fail(s"unsupported version/layer bits " +
        s"($version/$layer) at offset $off — only MPEG-1 Layer III " +
        "is modeled; MPEG-2/2.5 and Layers I/II are named refusals")
      return None
    }
    val brIdx = (b3 >> 4) & 0xf
    val srIdx = (b3 >> 2) & 3
    val padding = (b3 >> 1) & 1
    if (brIdx == 0)
      if (strict) fail(s"free-format bitrate at offset $off — frame " +
        "length is not derivable from the header; named refusal")
      else return None
    if (brIdx == 15 || srIdx == 3) {
      if (strict) fail(s"reserved bitrate/samplerate index at offset $off")
      return None
    }
    val channels = if (((b4 >> 6) & 3) == 3) 1 else 2
    Some((Bitrates(brIdx), SampleRates(srIdx), padding, channels))
  }

  private def frameLen(kbps: Int, sr: Int, padding: Int): Int =
    144000 * kbps / sr + padding

  /** Xing/Info or VBRI claims inside the frame at `off` (frame length
    * `len`): (isXing, isVbri, frames, bytes). Xing sits after the
    * side info (32 bytes stereo / 17 mono for MPEG-1); VBRI at fixed
    * offset 32 past the 4-byte header.
    */
  private def vbrHeader(b: Array[Byte], off: Int, len: Int, channels: Int)
      : (Boolean, Boolean, Int, Long) = {
    def be32(i: Int): Long =
      ((u8(b, i).toLong << 24) | (u8(b, i + 1) << 16) |
        (u8(b, i + 2) << 8) | u8(b, i + 3)) & 0xffffffffL
    def tagIs(i: Int, t: String): Boolean =
      i + t.length <= off + len && i + t.length <= b.length &&
        t.indices.forall(k => u8(b, i + k) == t.charAt(k))
    val xOff = off + 4 + (if (channels == 1) 17 else 32)
    if (tagIs(xOff, "Xing") || tagIs(xOff, "Info")) {
      val flags = be32(xOff + 4)
      var p = xOff + 8
      var frames = 0; var bytes = 0L
      if ((flags & 1) != 0) { frames = be32(p).toInt; p += 4 }
      if ((flags & 2) != 0) { bytes = be32(p); p += 4 }
      (true, false, frames, bytes)
    } else {
      val vOff = off + 4 + 32
      if (tagIs(vOff, "VBRI"))
        // VBRI: 2 version + 2 delay + 2 quality, then bytes, frames
        (false, true, be32(vOff + 14).toInt, be32(vOff + 10))
      else (false, false, 0, 0L)
    }
  }

  /** Walk one buffer: (frames, meta). The first frame is inspected for
    * a VBR header; if found it is a METADATA frame (excluded from the
    * audio frame table, like mp4's moov vs mdat split).
    */
  private[graft] def walk(b: Array[Byte], strict: Boolean = true)
      : (Seq[Mp3Frame], Mp3Meta) = {
    val id3 = id3Len(b)
    val frames = Seq.newBuilder[Mp3Frame]
    var off = id3
    var idx = 0
    var first = true
    var hasXing = false; var hasVbri = false
    var vbrFrames = 0; var vbrBytes = 0L
    var junk = 0L
    var truncated = false
    while (off < b.length) {
      headerAt(b, off, strict) match {
        case Some((kbps, sr, pad, ch)) =>
          val len = frameLen(kbps, sr, pad)
          if (off + len > b.length) {
            if (strict) fail(s"frame at offset $off advertises $len " +
              s"bytes but only ${b.length - off} remain")
            truncated = true
            off = b.length
          } else {
            var vbrLead = false
            if (first) {
              val (x, v, f, by) = vbrHeader(b, off, len, ch)
              hasXing = x; hasVbri = v
              if (x || v) { vbrFrames = f; vbrBytes = by; vbrLead = true }
              first = false
            }
            if (!vbrLead) { // a VBR lead is metadata, not audio
              frames += Mp3Frame(idx, off, len, kbps, sr, ch, pad,
                1152000000L / sr)
              idx += 1
            }
            off += len
          }
        case None =>
          // lenient resync: scan byte-by-byte for the next plausible
          // header — bounded by the buffer, no allocation
          junk += 1
          off += 1
      }
    }
    (frames.result(),
      Mp3Meta(idx, id3, hasXing, hasVbri, vbrFrames, vbrBytes, junk,
        truncated))
  }

  // ------------------------------------------------------- fixture

  /** Deterministic MP3 per doc — the x133 gate's oracle re-derives
    * every field from the same doc_id arithmetic:
    *  - n = doc_id % 7 + 3 audio frames
    *  - ID3v2 prefix of doc_id % 50 + 10 payload bytes when
    *    doc_id % 3 == 0 (the walker must skip it)
    *  - Xing VBR lead frame when doc_id % 4 == 0, VBRI when
    *    doc_id % 4 == 2 (both claim the true frame/byte totals)
    *  - per-frame VBR bitrate: [64,96,128,160,192][(doc_id+i) % 5]
    *  - samplerate [44100,48000,32000][doc_id % 3]; mono when
    *    doc_id % 2 == 1; padding bit (doc_id+i) % 2
    */
  private[graft] def mp3Of(id: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val n = (id % 7 + 3).toInt
    val sr = SampleRates((id % 3).toInt)
    val srIdx = (id % 3).toInt
    val mono = id % 2 == 1
    val kbpsOf = (i: Int) => Array(64, 96, 128, 160, 192)(((id + i) % 5).toInt)
    val brIdxOf = (i: Int) => Array(5, 7, 9, 10, 11)(((id + i) % 5).toInt)
    if (id % 3 == 0) {
      val sz = (id % 50 + 10).toInt
      out.write('I'); out.write('D'); out.write('3')
      out.write(3); out.write(0); out.write(0) // version 2.3, no flags
      out.write((sz >> 21) & 0x7f); out.write((sz >> 14) & 0x7f)
      out.write((sz >> 7) & 0x7f); out.write(sz & 0x7f)
      var j = 0
      while (j < sz) { out.write(((id + j) % 251).toInt); j += 1 }
    }
    def header(brIdx: Int, pad: Int): Unit = {
      out.write(0xff)
      out.write(0xfb) // MPEG-1, Layer III, no CRC
      out.write((brIdx << 4) | (srIdx << 2) | (pad << 1))
      out.write(if (mono) 0xc0 else 0x00)
    }
    def payloadLen(kbps: Int, pad: Int): Int = frameLen(kbps, sr, pad) - 4
    val totalAudioBytes =
      (0 until n).map(i => frameLen(kbpsOf(i), sr, ((id + i) % 2).toInt)).sum
    // VBR lead frame: 128 kbps, no padding; claims the true totals
    if (id % 4 == 0 || id % 4 == 2) {
      val leadLen = frameLen(128, sr, 0)
      val body = new Array[Byte](leadLen - 4)
      if (id % 4 == 0) {
        val xOff = (if (mono) 17 else 32)
        body(xOff) = 'X'; body(xOff + 1) = 'i'
        body(xOff + 2) = 'n'; body(xOff + 3) = 'g'
        body(xOff + 7) = 3 // flags: frames | bytes
        body(xOff + 8) = ((n >> 24) & 0xff).toByte
        body(xOff + 9) = ((n >> 16) & 0xff).toByte
        body(xOff + 10) = ((n >> 8) & 0xff).toByte
        body(xOff + 11) = (n & 0xff).toByte
        val tb = totalAudioBytes
        body(xOff + 12) = ((tb >> 24) & 0xff).toByte
        body(xOff + 13) = ((tb >> 16) & 0xff).toByte
        body(xOff + 14) = ((tb >> 8) & 0xff).toByte
        body(xOff + 15) = (tb & 0xff).toByte
      } else {
        val vOff = 32
        body(vOff) = 'V'; body(vOff + 1) = 'B'
        body(vOff + 2) = 'R'; body(vOff + 3) = 'I'
        body(vOff + 5) = 1 // version
        val tb = totalAudioBytes
        body(vOff + 10) = ((tb >> 24) & 0xff).toByte
        body(vOff + 11) = ((tb >> 16) & 0xff).toByte
        body(vOff + 12) = ((tb >> 8) & 0xff).toByte
        body(vOff + 13) = (tb & 0xff).toByte
        body(vOff + 14) = ((n >> 24) & 0xff).toByte
        body(vOff + 15) = ((n >> 16) & 0xff).toByte
        body(vOff + 16) = ((n >> 8) & 0xff).toByte
        body(vOff + 17) = (n & 0xff).toByte
      }
      header(9, 0) // bitrate index 9 = 128 kbps
      out.write(body)
    }
    var i = 0
    while (i < n) {
      val pad = ((id + i) % 2).toInt
      header(brIdxOf(i), pad)
      val pl = payloadLen(kbpsOf(i), pad)
      var j = 0
      while (j < pl) { out.write(((id + i + j) % 251).toInt); j += 1 }
      i += 1
    }
    out.toByteArray
  }

  def synthesizeMp3(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .repartition(spark.sparkContext.defaultParallelism)
      .map(id => (id, mp3Of(id)))
      .toDF("doc_id", "content")
  }

  /** Per-frame table over a (doc_id, bytes) frame — x133's gate: the
    * seekable segment table (offset + frame_bytes) plus the header
    * facts a curation pipeline filters on.
    */
  def mp3Frames(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("doc_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        walk(bytes)._1.map(f => (id, f.frameIdx, f.offset, f.frameBytes,
          f.bitrateKbps, f.sampleRate, f.channels, f.padding,
          f.durationUs))
      }
      .toDF("doc_id", "frame_idx", "offset", "frame_bytes",
        "bitrate_kbps", "samplerate", "channels", "padding", "duration_us")
  }

  /** Per-file summary: frame/byte/duration totals plus the VBR header
    * claims (spec-pinned equal to the measured walk on the fixture).
    */
  def mp3Meta(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("doc_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        val (fs, m) = walk(bytes)
        (id, m.nFrames, m.id3Bytes, m.hasXing, m.hasVbri, m.vbrFrames,
          m.vbrBytes, fs.map(_.durationUs).sum / 1000,
          fs.map(_.frameBytes.toLong).sum)
      }
      .toDF("doc_id", "n_frames", "id3_bytes", "has_xing", "has_vbri",
        "vbr_frames", "vbr_bytes", "duration_ms", "audio_bytes")
  }
}

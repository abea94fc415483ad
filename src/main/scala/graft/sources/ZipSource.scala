package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Shims

/** ZIP archive walker — the third shard container next to tar
  * (WebDataset) and WARC: dataset distribution still leans on zip
  * heavily, and the REFERENCE itself reads zip input (TextSource.cs:88-103
  * takes the first entry of a zip blob; [[Readers.zipFirstEntryLines]]
  * mirrors that seam with java.util.zip). This walker implements the
  * format for real, the correct way around: the CENTRAL DIRECTORY at the
  * end of the file is the authoritative catalog (local headers may carry
  * zero sizes with the actual values deferred to data descriptors —
  * stream-parsing them is guesswork), so the walk is: EOCD scan-back →
  * central directory → per-entry seek to its local header → bounded read
  * of exactly `csize` bytes → inflate/stored → CRC32 + usize check
  * against the central record. A flipped payload byte fails that entry
  * by name.
  *
  * zip64 archives — the NORMAL form for >4 GiB or >65535-entry shards
  * at the 100 TB scale (WebDataset-style shards are routinely multi-GB)
  * — resolve through the EOCD64 locator → EOCD64 record → per-entry
  * 0x0001 extended-information extra fields. Rejects loudly, by name:
  * encryption (flag bit 0), compression methods other than
  * stored/deflate, multi-disk archives, and single entries >2 GiB —
  * honest bounds beat silent misreads.
  *
  * 100 TB shape: one task per archive; the central directory is
  * O(entries) metadata and each entry's bytes decode one at a time —
  * O(largest entry) per task, like the tar walker. Reading the directory
  * needs a SEEK to the tail, which the Hadoop `FSDataInputStream` the
  * task opens provides — no whole-file buffering anywhere.
  */
object ZipSource {

  private[graft] case class ZipEntry(name: String, method: Int, crc: Long,
      csize: Long, usize: Long, offset: Long)
  private[graft] case class ZipDir(entries: Seq[ZipEntry], comment: String)

  /** Bounded random-access reads — over a byte array (gates/specs) or a
    * seekable Hadoop stream (the file arm).
    */
  private[graft] trait Seekable {
    def size: Long
    def readAt(pos: Long, len: Int): Array[Byte]
  }
  private[graft] final class BytesSeekable(bytes: Array[Byte]) extends Seekable {
    def size: Long = bytes.length.toLong
    def readAt(pos: Long, len: Int): Array[Byte] = {
      require(pos >= 0 && pos + len <= bytes.length, "zip: read out of bounds")
      java.util.Arrays.copyOfRange(bytes, pos.toInt, pos.toInt + len)
    }
  }
  private[graft] final class StreamSeekable(
      in: org.apache.hadoop.fs.FSDataInputStream, val size: Long)
      extends Seekable {
    def readAt(pos: Long, len: Int): Array[Byte] = {
      require(pos >= 0 && pos + len <= size, "zip: read out of bounds")
      val buf = new Array[Byte](len)
      in.readFully(pos, buf)
      buf
    }
  }

  private def u16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
  private def u32(b: Array[Byte], i: Int): Long =
    (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) |
      ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)
  private def u64(b: Array[Byte], i: Int): Long = {
    var v = 0L
    var k = 7
    while (k >= 0) { v = (v << 8) | (b(i + k) & 0xffL); k -= 1 }
    require(v >= 0, "zip: 64-bit field exceeds Long range")
    v
  }

  /** Largest legal central-directory entry: 46 fixed bytes + three
    * 65535-byte variable fields. The directory allocation is bounded by
    * `nTotal × this` BEFORE `readAt` — a hostile EOCD cannot force a
    * giant buffer on the directory's say-so alone (the GIF/TIFF
    * hostile-header discipline).
    */
  private val MaxCentralEntry = 46L + 3L * 65535L

  /** Locate + parse the end-of-central-directory record, then the
    * central directory it points at. zip64 archives (the normal form
    * for >4 GiB / >65535-entry shards at the 100 TB scale) resolve
    * through the EOCD64 locator → EOCD64 record → per-entry 0x0001
    * extra fields; multi-disk and encryption stay loud rejects.
    */
  private[graft] def readDirectory(in: Seekable): ZipDir = {
    require(in.size >= 22, "zip: too short for an EOCD record")
    // EOCD = 22 fixed bytes + a comment of up to 65535: scan the tail
    // window backwards for the signature whose commentLen matches
    val tailLen = math.min(in.size, 22L + 65535L).toInt
    val tail = in.readAt(in.size - tailLen, tailLen)
    var at = -1
    var i = tailLen - 22
    while (at < 0 && i >= 0) {
      if (u32(tail, i) == 0x06054b50L &&
        u16(tail, i + 20) == tailLen - i - 22) at = i
      else i -= 1
    }
    require(at >= 0, "zip: no end-of-central-directory record")
    val nTotal16 = u16(tail, at + 10)
    val cdSize32 = u32(tail, at + 12)
    val cdOffset32 = u32(tail, at + 16)
    // a zip64 EOCD locator directly precedes the EOCD when present;
    // saturated EOCD fields WITHOUT the locator are corruption, not a
    // dialect
    val eocdPos = in.size - tailLen + at
    val sigHit = eocdPos >= 20 &&
      u32(in.readAt(eocdPos - 20, 4), 0) == 0x07064b50L
    val classicSaturated = nTotal16 == 0xffff ||
      cdSize32 == 0xffffffffL || cdOffset32 == 0xffffffffL
    // validate the FULL locator→EOCD64 chain before committing to the
    // zip64 branch: a classic archive whose central-directory bytes or
    // comment coincidentally contain PK\x06\x07 twenty bytes before the
    // EOCD is not zip64 — when the chain fails and the classic fields
    // are non-saturated, fall back to them instead of hard-failing
    // (ADVICE r17); when they ARE saturated the chain failure is real
    // damage and stays loud.
    def zip64Chain(): (Long, Long, Long) = {
      val loc = in.readAt(eocdPos - 20, 20)
      require(u32(loc, 4) == 0 && u32(loc, 16) == 1,
        "zip: multi-disk archives unsupported")
      val e64Pos = u64(loc, 8)
      // upper bound BEFORE the addition: e64Pos + 56 could wrap Long
      require(e64Pos >= 0 && in.size >= 56 && e64Pos <= in.size - 56,
        "zip: EOCD64 offset out of bounds")
      val h = in.readAt(e64Pos, 56)
      require(u32(h, 0) == 0x06064b50L, "zip: bad EOCD64 signature")
      require(u32(h, 16) == 0 && u32(h, 20) == 0,
        "zip: multi-disk archives unsupported")
      val n = u64(h, 32)
      require(u64(h, 24) == n, "zip: multi-disk archives unsupported")
      (n, u64(h, 40), u64(h, 48))
    }
    val zip64 =
      if (!sigHit) None
      else if (classicSaturated) Some(zip64Chain())
      else try Some(zip64Chain()) catch {
        case _: IllegalArgumentException => None // coincidental signature
      }
    val hasLocator = zip64.isDefined
    // EOCD disk fields: 0 for single-disk; APPNOTE also allows a zip64
    // writer to saturate them to 0xFFFF with the real (validated-zero)
    // values in the EOCD64 record — only a true nonzero disk number is
    // the multi-disk reject
    val eDisk = u16(tail, at + 4)
    val eCdDisk = u16(tail, at + 6)
    def diskOk(v: Int): Boolean = v == 0 || (hasLocator && v == 0xffff)
    require(diskOk(eDisk) && diskOk(eCdDisk),
      "zip: multi-disk archives unsupported")
    val (nTotal, cdSize, cdOffset) = zip64.getOrElse {
      require(!classicSaturated,
        "zip: zip64 sentinels without an EOCD64 locator")
      (nTotal16.toLong, cdSize32, cdOffset32)
    }
    require(nTotal <= Int.MaxValue - 16, "zip: entry count exceeds 2^31")
    // allocation bounds BEFORE readAt: the absolute 2 GiB array cap and
    // the entry-derived cap (a 10-entry directory cannot claim gigabytes)
    require(cdSize <= Int.MaxValue - 16, "zip: central directory exceeds 2 GiB")
    require(cdSize <= nTotal * MaxCentralEntry,
      s"zip: central directory size $cdSize exceeds $nTotal entries' maximum")
    // subtraction form: cdOffset + cdSize could wrap Long on hostile
    // EOCD64 values
    require(cdOffset >= 0 && cdOffset <= in.size &&
      cdSize <= in.size - cdOffset,
      "zip: central directory out of bounds")
    val comment = new String(tail, at + 22, tailLen - at - 22, "UTF-8")
    val cd = in.readAt(cdOffset, cdSize.toInt)
    val out = scala.collection.mutable.ArrayBuffer[ZipEntry]()
    var pos = 0
    while (out.size < nTotal) {
      require(pos + 46 <= cd.length, "zip: central directory truncated")
      require(u32(cd, pos) == 0x02014b50L, "zip: bad central-entry signature")
      val flags = u16(cd, pos + 8)
      require((flags & 1) == 0, "zip: encrypted entries unsupported")
      val method = u16(cd, pos + 10)
      require(method == 0 || method == 8,
        s"zip: compression method $method unsupported (stored/deflate only)")
      val crc = u32(cd, pos + 16)
      var csize = u32(cd, pos + 20)
      var usize = u32(cd, pos + 24)
      val nameLen = u16(cd, pos + 28)
      val extraLen = u16(cd, pos + 30)
      val commentLen = u16(cd, pos + 32)
      val diskStart = u16(cd, pos + 34)
      var lhOffset = u32(cd, pos + 42)
      require(pos + 46 + nameLen + extraLen + commentLen <= cd.length,
        "zip: central directory truncated")
      val name = new String(cd, pos + 46, nameLen, "UTF-8")
      if (csize == 0xffffffffL || usize == 0xffffffffL ||
        lhOffset == 0xffffffffL || diskStart == 0xffff) {
        // a real (nonzero, non-sentinel) disk number is multi-disk even
        // when OTHER fields brought us into the zip64 branch — without
        // this, entryBytes would read a wrong-disk offset in THIS file
        require(diskStart == 0 || diskStart == 0xffff,
          "zip: multi-disk archives unsupported")
        // zip64 extended-information extra field (tag 0x0001): 8-byte
        // values present ONLY for the saturated fields, in spec order
        // usize, csize, offset, disk
        var ep = pos + 46 + nameLen
        val eend = ep + extraLen
        var found = false
        while (!found && ep + 4 <= eend) {
          val tag = u16(cd, ep)
          val flen = u16(cd, ep + 2)
          require(ep + 4 + flen <= eend,
            s"zip: extra field overruns in '$name'")
          if (tag == 0x0001) {
            var vp = ep + 4
            val vend = ep + 4 + flen
            def take8(what: String): Long = {
              require(vp + 8 <= vend,
                s"zip: zip64 extra field missing $what in '$name'")
              val v = u64(cd, vp); vp += 8; v
            }
            if (usize == 0xffffffffL) usize = take8("usize")
            if (csize == 0xffffffffL) csize = take8("csize")
            if (lhOffset == 0xffffffffL) lhOffset = take8("offset")
            if (diskStart == 0xffff) {
              require(vp + 4 <= vend,
                s"zip: zip64 extra field missing disk in '$name'")
              require(u32(cd, vp) == 0,
                "zip: multi-disk archives unsupported")
            }
            found = true
          } else ep += 4 + flen
        }
        require(found,
          s"zip: zip64 sentinel without a 0x0001 extra field in '$name'")
      } else require(diskStart == 0, "zip: multi-disk archives unsupported")
      out += ZipEntry(name, method, crc, csize, usize, lhOffset)
      pos += 46 + nameLen + extraLen + commentLen
    }
    require(pos == cd.length, "zip: central directory size mismatch")
    ZipDir(out.toSeq, comment)
  }

  /** One entry's decoded bytes: seek its local header (whose name/extra
    * lengths are its OWN — they may differ from the central copy), read
    * exactly `csize` bytes, inflate (or pass stored through), verify
    * CRC32 and usize against the central record.
    */
  private[graft] def entryBytes(in: Seekable, e: ZipEntry): Array[Byte] = {
    val lh = in.readAt(e.offset, 30)
    require(u32(lh, 0) == 0x04034b50L,
      s"zip: bad local-header signature for '${e.name}'")
    val nameLen = u16(lh, 26)
    val extraLen = u16(lh, 28)
    val dataPos = e.offset + 30 + nameLen + extraLen
    // a zip64 ARCHIVE may exceed 4 GiB while every ENTRY stays decodable;
    // a single >2 GiB entry still rejects loudly (it would need a
    // streaming entry decode, and no training shard ships one)
    require(e.csize <= Int.MaxValue - 16 && e.usize <= Int.MaxValue - 16,
      s"zip: entry '${e.name}' exceeds 2 GiB")
    val raw = in.readAt(dataPos, e.csize.toInt)
    val data =
      if (e.method == 0) raw
      else {
        val inf = new java.util.zip.Inflater(true)
        inf.setInput(raw)
        val out = new java.io.ByteArrayOutputStream(e.usize.toInt)
        val buf = new Array[Byte](1 << 16)
        while (!inf.finished()) {
          val k = try inf.inflate(buf) catch {
            case ex: java.util.zip.DataFormatException =>
              throw new IllegalArgumentException(
                s"zip: corrupt deflate stream in '${e.name}': ${ex.getMessage}")
          }
          require(k > 0 || inf.finished(),
            s"zip: truncated deflate stream in '${e.name}'")
          out.write(buf, 0, k)
        }
        inf.end()
        out.toByteArray
      }
    require(data.length.toLong == e.usize,
      s"zip: size mismatch in '${e.name}' (${data.length} != ${e.usize})")
    val crc = new java.util.zip.CRC32()
    crc.update(data)
    require(crc.getValue == e.crc, s"zip: CRC mismatch in '${e.name}'")
    data
  }

  // ------------------------------------------------------------- writer

  private def le16(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
  private def le32(v: Long): Array[Byte] =
    Array.tabulate(4)(i => ((v >> (8 * i)) & 0xff).toByte)

  private def le64(v: Long): Array[Byte] =
    Array.tabulate(8)(i => ((v >> (8 * i)) & 0xff).toByte)

  /** Deterministic zip writer (fixtures + the export arm's shape):
    * stored or deflate entries, fixed DOS timestamp, optional archive
    * comment. `zip64 = true` forces the zip64 form regardless of size —
    * saturated central csize/usize/offset resolved by 0x0001 extra
    * fields, EOCD64 record + locator, saturated EOCD — the layout a
    * >4 GiB shard carries, writable small enough to gate-check.
    * `unzip -t` and python's zipfile validate both forms (spec-pinned).
    */
  private[graft] def zipOf(entries: Seq[(String, Array[Byte], Boolean)],
                           comment: String = "",
                           zip64: Boolean = false): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val central = new java.io.ByteArrayOutputStream()
    val version = if (zip64) 45 else 20
    entries.foreach { case (name, data, stored) =>
      val offset = out.size().toLong
      val crc = new java.util.zip.CRC32()
      crc.update(data)
      val packed =
        if (stored) data
        else {
          val d = new java.util.zip.Deflater(6, true)
          d.setInput(data); d.finish()
          val b = new java.io.ByteArrayOutputStream()
          val buf = new Array[Byte](1 << 16)
          while (!d.finished()) b.write(buf, 0, d.deflate(buf))
          d.end(); b.toByteArray
        }
      val nb = name.getBytes("UTF-8")
      val method = if (stored) 0 else 8
      def head(csize: Long, usize: Long, extraLen: Int): Array[Byte] =
        le16(version) ++ le16(0) ++ le16(method) ++
          le16(0) ++ le16(0x5a21) ++ // fixed DOS time/date (2025-01-01)
          le32(crc.getValue) ++ le32(csize) ++ le32(usize) ++
          le16(nb.length) ++ le16(extraLen)
      // local header keeps real sizes (zip64 local extras are only
      // REQUIRED once a size saturates; readers take the central copy)
      out.write(le32(0x04034b50L))
      out.write(head(packed.length.toLong, data.length.toLong, 0))
      out.write(nb)
      out.write(packed)
      central.write(le32(0x02014b50L)); central.write(le16(version))
      if (zip64) {
        // saturate csize/usize/offset; the 0x0001 extra resolves them
        central.write(head(0xffffffffL, 0xffffffffL, 4 + 24))
        central.write(le16(0)) // comment len
        central.write(le16(0)) // disk start
        central.write(le16(0)); central.write(le32(0)) // attrs
        central.write(le32(0xffffffffL))
        central.write(nb)
        central.write(le16(0x0001)); central.write(le16(24))
        central.write(le64(data.length.toLong)) // usize
        central.write(le64(packed.length.toLong)) // csize
        central.write(le64(offset))
      } else {
        central.write(head(packed.length.toLong, data.length.toLong, 0))
        central.write(le16(0)) // comment len
        central.write(le16(0)) // disk start
        central.write(le16(0)); central.write(le32(0)) // attrs
        central.write(le32(offset))
        central.write(nb)
      }
    }
    val cdOffset = out.size().toLong
    out.write(central.toByteArray)
    val cb = comment.getBytes("UTF-8")
    if (zip64) {
      val e64Pos = cdOffset + central.size().toLong
      out.write(le32(0x06064b50L)) // EOCD64 record
      out.write(le64(44L)) // size of remainder
      out.write(le16(45)); out.write(le16(45))
      out.write(le32(0)); out.write(le32(0)) // this disk / cd start disk
      out.write(le64(entries.size.toLong)); out.write(le64(entries.size.toLong))
      out.write(le64(central.size().toLong)); out.write(le64(cdOffset))
      out.write(le32(0x07064b50L)) // EOCD64 locator
      out.write(le32(0)) // disk holding the EOCD64
      out.write(le64(e64Pos))
      out.write(le32(1)) // total disks
      out.write(le32(0x06054b50L)) // saturated classic EOCD
      out.write(le16(0)); out.write(le16(0))
      out.write(le16(0xffff)); out.write(le16(0xffff))
      out.write(le32(0xffffffffL)); out.write(le32(0xffffffffL))
      out.write(le16(cb.length)); out.write(cb)
    } else {
      out.write(le32(0x06054b50L))
      out.write(le16(0)); out.write(le16(0))
      out.write(le16(entries.size)); out.write(le16(entries.size))
      out.write(le32(central.size().toLong)); out.write(le32(cdOffset))
      out.write(le16(cb.length)); out.write(cb)
    }
    out.toByteArray
  }

  // Fixture arithmetic (the DuckDB oracle re-derives everything):
  //   k = id%3+1 entries named e{j}.txt; entry j's content is the doc's
  //   text at j==0, else "entry {id} {j}"; STORED when (id+j)%4==0 else
  //   deflated; archive comment "doc {id}" when id%5==0. The FORCED
  //   zip64 form (EOCD64 + locator + 0x0001 extras) on id%7==3 — the
  //   facts are container-form-invariant, so a zip64 resolution slip
  //   fails the x110 hash.
  private[graft] def zipFixtureOf(id: Long, text: String): Array[Byte] = {
    val k = (id % 3 + 1).toInt
    val entries = (0 until k).map { j =>
      val content = if (j == 0) text else s"entry $id $j"
      (s"e$j.txt", content.getBytes("UTF-8"), (id + j) % 4 == 0)
    }
    zipOf(entries, if (id % 5 == 0) s"doc $id" else "", zip64 = id % 7 == 3)
  }

  def synthesizeZip(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .repartition(spark.sparkContext.defaultParallelism)
      .map { case (id, text) =>
        graft.operators.Multimodal.ImageRow(id, zipFixtureOf(id, text)) }
      .toDF()
  }

  /** x110 gate: central-directory facts + a full first-entry round-trip
    * (decode, CRC-check, UTF-8) per archive.
    */
  def zipTable(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("doc_id"), col("content")).as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        val in = new BytesSeekable(bytes)
        val dir = readDirectory(in)
        val first = dir.entries.find(_.name == "e0.txt")
          .getOrElse(sys.error(s"zip: no e0.txt in doc $id"))
        (id, dir.entries.size,
          dir.entries.count(_.method == 0),
          dir.entries.count(_.method == 8),
          dir.entries.map(_.usize).sum,
          dir.comment.length,
          new String(entryBytes(in, first), "UTF-8"))
      }
      .toDF("doc_id", "n_entries", "n_stored", "n_deflated", "usize_sum",
        "comment_len", "first_text")
  }

  /** File-path arm: one manifest row per entry across `.zip` archives
    * under a glob — one task per archive, directory read via tail seeks,
    * each entry decoded (and CRC-verified) one at a time.
    */
  def zipFiles(spark: SparkSession, glob: String): DataFrame = {
    import spark.implicits._
    // ship the job's REAL Hadoop conf (spark.hadoop.* credentials,
    // endpoints) for the executor-side open and stat — a
    // default-constructed Configuration breaks on exactly the
    // object-store deployments this arm targets
    val conf = new Shims.SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
    spark.sparkContext.binaryFiles(glob).keys
      .flatMap(zipRows(_, conf.value, lenient = false))
      .toDF("file", "name", "method", "usize", "crc_ok")
  }

  /** One archive's entry rows (file, name, method, usize, crc_ok), shared
    * by [[zipFiles]] and `StreamingAnalytics.zipIngest`. The directory
    * read runs inside the stream guard, so a no-EOCD/encrypted/zip64
    * reject closes the stream; under `lenient` a damaged archive yields
    * ONE poison row (null name, usize -1).
    */
  private[graft] def zipRows(path: String, conf: org.apache.hadoop.conf.Configuration,
                             lenient: Boolean)
      : Iterator[(String, String, Int, Long, Boolean)] =
    StreamUtil.fileRows(path, conf, lenient, (path, null, -1, -1L, false), { fsIn =>
      // stat at open time for the tail seek: the length is the task-time
      // one, not the (possibly stale) listing-time value of a
      // still-growing copy-in
      val p = new org.apache.hadoop.fs.Path(path)
      val in = new StreamSeekable(fsIn, p.getFileSystem(conf).getFileStatus(p).getLen)
      readDirectory(in).entries.iterator.map { e =>
        val n = entryBytes(in, e).length.toLong // decode = CRC check
        (path, e.name, e.method, e.usize, n == e.usize)
      }
    })
}

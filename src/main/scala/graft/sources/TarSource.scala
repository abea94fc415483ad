package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Shims

/** POSIX tar (ustar) walker + WebDataset sample grouping — the shard
  * format large multimodal training pipelines feed from: a shard is a
  * plain tar whose member files are named `{sampleKey}.{ext}`, and a
  * sample is the group of same-key files ({key}.txt caption, {key}.cls
  * label, {key}.bin payload, ...). Sequential tar reads are the whole
  * point of the format (no per-sample seeks), which is exactly the
  * one-task-per-shard discipline the other codec arms use.
  *
  * The walker implements the ustar grammar: 512-byte headers (name,
  * octal size/mtime, typeflag, ustar magic, prefix for long paths), data
  * rounded up to 512-byte blocks, two zero blocks at the end, and the
  * header CHECKSUM (sum of header bytes with the chksum field blanked to
  * spaces) validated on every entry — a flipped byte anywhere in a
  * header fails that entry by name. `.tar.gz` shards reuse
  * [[WarcSource.gzipMember]], so member CRC32/ISIZE checks come free.
  *
  * The x104 gate groups entries into samples (key = name up to the first
  * dot), counts complete samples (caption + label present), and sums
  * per-extension byte/label facts; DuckDB re-derives everything from
  * doc_id arithmetic. TarSpec pins both interop directions against the
  * system `tar` binary (it lists/extracts our bytes; we parse its).
  */
object TarSource {

  private[graft] case class TarEntry(name: String, size: Long,
      typeflag: Char, data: Array[Byte])

  private def octal(bytes: Array[Byte], off: Int, len: Int): Long = {
    var v = 0L
    var i = off
    val end = off + len
    while (i < end && (bytes(i) == ' ' || bytes(i) == 0)) i += 1
    while (i < end && bytes(i) >= '0' && bytes(i) <= '7') {
      v = (v << 3) + (bytes(i) - '0'); i += 1
    }
    v
  }

  private def cstr(bytes: Array[Byte], off: Int, len: Int): String = {
    var n = 0
    while (n < len && bytes(off + n) != 0) n += 1
    new String(bytes, off, n, "ISO-8859-1")
  }

  /** PAX extended-header records: repeated "<decimal len> key=value\n"
    * where len counts the WHOLE record including itself and the newline
    * (POSIX.1-2001 pax). Malformed records reject by name.
    */
  private[graft] def paxRecords(data: Array[Byte]): Map[String, String] = {
    val out = scala.collection.mutable.Map[String, String]()
    var pos = 0
    while (pos < data.length) {
      var sp = pos
      while (sp < data.length && data(sp) != ' ') sp += 1
      require(sp > pos && sp < data.length, "tar: malformed pax record length")
      val len = new String(data, pos, sp - pos, "ISO-8859-1").toInt
      require(len > sp - pos + 1 && pos + len <= data.length &&
        data(pos + len - 1) == '\n', "tar: pax record overruns header")
      val body = new String(data, sp + 1, pos + len - 1 - (sp + 1), "UTF-8")
      val eq = body.indexOf('=')
      require(eq > 0, s"tar: malformed pax record '$body'")
      out(body.substring(0, eq)) = body.substring(eq + 1)
      pos += len
    }
    out.toMap
  }

  /** Lazy entry walk over one (decompressed) tar stream — O(largest
    * entry) memory: one 512-byte header at a time, one entry's data at a
    * time, never the archive. Grammar identical to the old array walker
    * (checksum on every header, two zero blocks at the end, zero-only
    * padding after), with truncation surfacing as the same messages.
    */
  private[graft] def tarEntryIter(feed: ByteFeed): Iterator[TarEntry] =
    new Iterator[TarEntry] {
      private val hdr = new Array[Byte](512)
      private var pending: TarEntry = null
      private var finished = false
      private var zeroBlocks = 0
      // name overrides announced by a preceding GNU 'L' / PAX 'x' entry
      private var longName: Option[String] = None
      private var paxPath: Option[String] = None

      /** One 512-byte block into hdr; false at clean EOF-or-short-block
        * (which is only legal after both zero blocks). ONLY the tar
        * truncation is absorbed: a gzip-layer error (CRC/ISIZE
        * mismatch, corrupt deflate) surfacing during the refill of a
        * `.tar.gz` must propagate with ITS message, not be relabeled
        * as a missing end-of-archive marker (r16 advice — triage and
        * poison-row diagnostics need the real cause).
        */
      private def fillBlock(): Boolean = {
        if (feed.atEof) return false
        try { feed.bytesInto(hdr, 0, 512, "tar: short block"); true }
        catch {
          case e: IllegalArgumentException
              if e.getMessage != null &&
                e.getMessage.contains("tar: short block") => false
        }
      }

      private def advance(): Unit = {
        while (pending == null && !finished) {
          if (!fillBlock()) {
            require(zeroBlocks == 2, "tar: missing end-of-archive zero blocks")
            finished = true
          } else if ((0 until 512).forall(hdr(_) == 0)) {
            zeroBlocks += 1
            if (zeroBlocks == 2) {
              // real writers pad to the blocking factor with zeros —
              // legal; any non-zero byte after the end marker is data a
              // reader would drop
              while (feed.available)
                require(feed.u8("") == 0, "tar: data after end-of-archive marker")
              finished = true
            }
          } else {
            require(zeroBlocks == 0, "tar: data after end-of-archive marker")
            // POSIX writes "ustar\0" + "00"; GNU writes "ustar " + " \0" —
            // accept both (real archives are a mix)
            val magic = cstr(hdr, 257, 6)
            require(magic.trim == "ustar", s"tar: bad magic '$magic'")
            // checksum: header bytes with the chksum field (148..156) blanked
            var sum = 0L
            (0 until 512).foreach { i =>
              sum += (if (i >= 148 && i < 156) ' '.toInt else hdr(i) & 0xff)
            }
            val want = octal(hdr, 148, 8)
            require(sum == want, s"tar: header checksum mismatch ($sum != $want)")
            val prefix = cstr(hdr, 345, 155)
            val name0 = cstr(hdr, 0, 100)
            val hdrName = if (prefix.isEmpty) name0 else prefix + "/" + name0
            val size = octal(hdr, 124, 12)
            val typeflag = {
              val t = hdr(156)
              if (t == 0) '0' else t.toChar
            }
            val padded = ((size + 511) / 512) * 512
            val overrun = s"tar: entry '$hdrName' overruns archive"
            typeflag match {
              case 'L' =>
                // GNU long-name: this pseudo-entry's DATA is the next
                // real entry's NUL-terminated path (GNU tar emits it for
                // any path over 100 bytes in its default format)
                require(size <= (1L << 16), "tar: long-name entry oversized")
                val d = feed.bytes(size.toInt, overrun)
                feed.skip(padded - size, overrun)
                var n = 0
                while (n < d.length && d(n) != 0) n += 1
                longName = Some(new String(d, 0, n, "ISO-8859-1"))
              case 'x' | 'g' =>
                // PAX extended header: "<len> key=value\n" records; honor
                // `path` (the POSIX long-name form), skip other keys —
                // they annotate, never change the byte walk
                require(size <= (1L << 20), "tar: pax header oversized")
                val d = feed.bytes(size.toInt, overrun)
                feed.skip(padded - size, overrun)
                if (typeflag == 'x') paxPath = paxRecords(d).get("path")
              case _ =>
                val name = longName
                  .orElse(paxPath)
                  .getOrElse(hdrName)
                longName = None; paxPath = None
                val data = if (typeflag == '0') {
                  require(size <= Int.MaxValue - 16,
                    s"tar: entry '$name' exceeds 2 GiB")
                  val d = feed.bytes(size.toInt, overrun)
                  feed.skip(padded - size, overrun)
                  d
                } else { feed.skip(padded, overrun); Array.emptyByteArray }
                pending = TarEntry(name, size, typeflag, data)
            }
          }
        }
      }
      def hasNext: Boolean = { advance(); pending != null }
      def next(): TarEntry = {
        advance()
        if (pending == null) throw new NoSuchElementException("tar")
        val e = pending; pending = null; e
      }
    }

  /** Lazy entry walk over `.tar` or `.tar.gz` stream bytes. The gz arm
    * runs the tar grammar over [[Gzip.GunzipStream]] — incremental
    * inflate with per-member CRC32/ISIZE checks as each trailer is
    * crossed (a tar.gz is usually ONE member spanning the whole archive,
    * so member-at-a-time decode would be O(file); chunked inflate keeps
    * it O(largest entry)).
    */
  private[graft] def shardEntryIter(in: java.io.InputStream): Iterator[TarEntry] = {
    val feed = new ByteFeed(in)
    require(feed.ensure2(), "tar: empty shard")
    if (feed.peek(0) == 0x1f && feed.peek(1) == 0x8b)
      tarEntryIter(new ByteFeed(new Gzip.GunzipStream(feed)))
    else tarEntryIter(feed)
  }

  /** Walk one (decompressed) tar archive — array convenience over
    * [[tarEntryIter]] for specs and small fixtures.
    */
  private[graft] def parseTar(bytes: Array[Byte]): Seq[TarEntry] =
    tarEntryIter(ByteFeed.wrap(bytes)).toList

  /** Accept `.tar` or `.tar.gz` bytes (gz: concatenated members allowed,
    * CRC-checked by the member walker) — array convenience for gates.
    */
  private[graft] def parseShard(bytes: Array[Byte]): Seq[TarEntry] =
    shardEntryIter(new java.io.ByteArrayInputStream(bytes)).toList

  // ------------------------------------------------------------- writer

  private[graft] def tarEntryBytes(name: String, data: Array[Byte]): Array[Byte] = {
    require(name.getBytes("ISO-8859-1").length <= 100,
      "tar: long names need the prefix field (not emitted by this writer)")
    val hdr = new Array[Byte](512)
    val nb = name.getBytes("ISO-8859-1")
    System.arraycopy(nb, 0, hdr, 0, nb.length)
    def oct(v: Long, off: Int, len: Int): Unit = {
      val s = java.lang.Long.toOctalString(v)
      val pad = "0" * (len - 1 - s.length) + s
      val b = pad.getBytes("ISO-8859-1")
      System.arraycopy(b, 0, hdr, off, b.length) // NUL terminator stays
    }
    oct(420, 100, 8) // mode 0644
    oct(0, 108, 8); oct(0, 116, 8) // uid gid
    oct(data.length.toLong, 124, 12)
    oct(1767225600L, 136, 12) // fixed mtime (2026-01-01, determinism)
    hdr(156) = '0'
    System.arraycopy("ustar".getBytes("ISO-8859-1"), 0, hdr, 257, 5)
    hdr(263) = '0'; hdr(264) = '0' // version "00"
    java.util.Arrays.fill(hdr, 148, 156, ' '.toByte)
    var sum = 0L
    (0 until 512).foreach(i => sum += hdr(i) & 0xff)
    val cs = java.lang.Long.toOctalString(sum)
    val csPad = "0" * (6 - cs.length) + cs
    System.arraycopy(csPad.getBytes("ISO-8859-1"), 0, hdr, 148, 6)
    hdr(154) = 0; hdr(155) = ' '
    val padded = new Array[Byte](((data.length + 511) / 512) * 512)
    System.arraycopy(data, 0, padded, 0, data.length)
    hdr ++ padded
  }

  private[graft] def tarOf(entries: Seq[(String, Array[Byte])]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    entries.foreach { case (n, d) => out.write(tarEntryBytes(n, d)) }
    out.write(new Array[Byte](1024)) // two zero blocks
    out.toByteArray
  }

  // Fixture arithmetic (the DuckDB oracle re-derives everything): per
  // doc, k = id%4+1 samples keyed s{id}_{j}. Sample j carries
  //   {key}.txt  — the document's text at j==0, else "fill {id} {j}"
  //   {key}.cls  — decimal (id+j)%10, OMITTED when (id+j)%5==0 (so
  //                sample completeness is a real check)
  //   {key}.bin  — (id+j)%29+1 junk bytes, even j only
  // Shards are .tar.gz on even ids, plain .tar on odd.
  private[graft] def shardOf(id: Long, text: String): Array[Byte] = {
    val k = (id % 4 + 1).toInt
    val entries = (0 until k).flatMap { j =>
      val key = s"s${id}_$j"
      val txt = (s"$key.txt",
        (if (j == 0) text else s"fill $id $j").getBytes("UTF-8"))
      val cls = if ((id + j) % 5 == 0) Seq.empty
        else Seq((s"$key.cls", ((id + j) % 10).toString.getBytes("UTF-8")))
      val bin = if (j % 2 == 0)
        Seq((s"$key.bin",
          Array.fill(((id + j) % 29 + 1).toInt)(((id * 13 + j) % 256).toByte)))
        else Seq.empty
      Seq(txt) ++ cls ++ bin
    }
    val tar = tarOf(entries)
    if (id % 2 == 0) WarcSource.gzipOne(tar) else tar
  }

  def synthesizeShards(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .repartition(spark.sparkContext.defaultParallelism)
      .map { case (id, text) =>
        graft.operators.Multimodal.ImageRow(id, shardOf(id, text)) }
      .toDF()
  }

  /** File-path arm: one row per member file across `.tar`/`.tar.gz`
    * shards under a glob — one task per shard, sample key included so a
    * downstream groupBy can assemble samples that span extensions.
    */
  def tarFiles(spark: SparkSession, glob: String): DataFrame = {
    import spark.implicits._
    val conf = new Shims.SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
    spark.sparkContext.binaryFiles(glob).keys
      .flatMap(tarRows(_, conf.value, lenient = false))
      .toDF("shard", "name", "sample_key", "bytes")
  }

  /** One shard's member rows (shard, name, sample_key, bytes), shared by
    * [[tarFiles]] and `StreamingAnalytics.tarIngest`: entry-at-a-time,
    * O(largest entry), never the whole file. Under `lenient` a damaged
    * shard yields its entries up to the damage, then ONE poison row
    * (null name, bytes -1).
    */
  private[graft] def tarRows(path: String, conf: org.apache.hadoop.conf.Configuration,
                             lenient: Boolean)
      : Iterator[(String, String, String, Long)] =
    StreamUtil.fileRows(path, conf, lenient, (path, null, null, -1L), in =>
      shardEntryIter(in).filter(_.typeflag == '0')
        .map(e => (path, e.name, e.name.takeWhile(_ != '.'), e.size)))

  /** x104 gate: WebDataset sample grouping + per-extension facts. */
  def webdatasetTable(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("doc_id"), col("content")).as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        val entries = parseShard(bytes)
        val samples = entries.groupBy(e => e.name.takeWhile(_ != '.'))
        val complete = samples.valuesIterator.count { es =>
          val exts = es.map(_.name.dropWhile(_ != '.')).toSet
          exts(".txt") && exts(".cls")
        }
        def ext(e: String) = entries.filter(_.name.endsWith(e))
        (id, entries.size, samples.size, complete,
          ext(".txt").map(_.size).sum,
          ext(".cls").map(e => new String(e.data, "UTF-8").toLong).sum,
          ext(".bin").map(_.size).sum)
      }
      .toDF("doc_id", "n_entries", "n_samples", "n_complete",
        "txt_bytes", "cls_sum", "bin_bytes")
  }
}

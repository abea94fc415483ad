package graft.sources

/** Streaming byte substrate for the archive walkers (WARC, tar, gzip).
  *
  * The ingestion arms read 100 TB-shaped inputs one task per file; the
  * r15 review found those tasks materializing the WHOLE file
  * (`pds.toArray()`) plus every decoded record before emitting — O(file)
  * memory that OOMs at Common-Crawl scale (~1 GB `.warc.gz`, 3–4 GB
  * decompressed, × 32 concurrent tasks). Everything here exists to make
  * the documented O(largest record) bound true: a [[ByteFeed]] pulls a
  * bounded window from an `InputStream`, [[Gzip.MemberInflater]] inflates
  * one gzip member through that window with the same CRC32 + ISIZE
  * discipline as the original array walker, and [[Gzip.GunzipStream]]
  * exposes a multi-member `.gz` file as one continuous stream (for tar
  * shards, where a single member legally spans the whole archive) while
  * still verifying each member's trailer as it is crossed.
  *
  * Reference seam: GunzipContentTransform.cs streams whole blobs through
  * one gunzip; this file is the Spark-side equivalent with the window
  * bounded instead of the blob materialized.
  */
private[graft] object ByteFeed {
  private val emptyIn = new java.io.ByteArrayInputStream(Array.emptyByteArray)
  /** Zero-copy feed over an in-memory chunk (a decoded gzip member):
    * the array IS the window — no re-buffering through a stream.
    */
  def wrap(bytes: Array[Byte]): ByteFeed =
    new ByteFeed(emptyIn, bytes, bytes.length, atEof0 = true)
}

private[graft] final class ByteFeed private (
    in: java.io.InputStream, buf: Array[Byte], hi0: Int, atEof0: Boolean) {
  def this(in: java.io.InputStream, bufSize: Int = 1 << 16) =
    this(in, new Array[Byte](bufSize), 0, false)
  private var lo = 0
  private var hi = hi0
  private var eof = atEof0
  // bytes ever dropped off the front of the buffer (consumed by callers)
  private var drained = 0L

  /** Total bytes the caller has consumed from the stream so far. */
  def consumedBytes: Long = drained + lo

  private def refill(): Unit = { // precondition: lo == hi
    drained += hi; lo = 0; hi = 0
    var k = 0
    while (k == 0 && !eof) {
      k = in.read(buf)
      if (k < 0) eof = true
    }
    if (k > 0) hi = k
  }

  /** At least one unconsumed byte buffered (refilling if needed)? */
  def available: Boolean = { if (lo == hi && !eof) refill(); lo < hi }
  def atEof: Boolean = !available

  /** Buffer at least `n` unconsumed bytes (n ≤ buffer size) without
    * consuming; false when the stream holds fewer than `n` bytes total.
    * Used for container sniffing (2 bytes) and EBML ID lookahead (≤4).
    */
  def ensureN(n: Int): Boolean = {
    if (hi - lo >= n) return true
    if (lo > 0) { // compact so the window can grow
      System.arraycopy(buf, lo, buf, 0, hi - lo)
      drained += lo; hi -= lo; lo = 0
    }
    while (hi - lo < n && !eof) {
      // only a LIVE stream that genuinely cannot buffer n is an error;
      // a wrapped short array (buf IS the blob) must return false so
      // callers keep their by-name empty/truncated rejects
      require(n <= buf.length, "ByteFeed: lookahead exceeds window")
      val k = in.read(buf, hi, buf.length - hi)
      if (k < 0) eof = true else hi += k
    }
    hi - lo >= n
  }
  def ensure2(): Boolean = ensureN(2)
  def peek(i: Int): Int = buf(lo + i) & 0xff

  /** Next byte; `msg` names the truncation when the stream ends. */
  def u8(msg: String): Int = {
    require(available, msg)
    val b = buf(lo) & 0xff; lo += 1; b
  }

  /** Read exactly `n` bytes into a fresh array; truncation throws `msg`. */
  def bytes(n: Int, msg: String): Array[Byte] = {
    val out = new Array[Byte](n)
    bytesInto(out, 0, n, msg)
    out
  }

  /** Read exactly `len` bytes into `out(off..)`; truncation throws `msg`. */
  def bytesInto(out: Array[Byte], off: Int, len: Int, msg: String): Unit = {
    var done = 0
    while (done < len) {
      require(available, msg)
      val k = math.min(len - done, hi - lo)
      System.arraycopy(buf, lo, out, off + done, k)
      lo += k; done += k
    }
  }

  /** Skip exactly `n` bytes; truncation throws `msg`. */
  def skip(n: Long, msg: String): Unit = {
    var left = n
    while (left > 0) {
      require(available, msg)
      val k = math.min(left, (hi - lo).toLong).toInt
      lo += k; left -= k
    }
  }

  // --- Inflater coupling: expose the buffered window as setInput fodder.
  // The caller owns consumption accounting: hand the window to the
  // inflater, then skipWindow() however many bytes it actually used.
  def windowArray: Array[Byte] = buf
  def windowOff: Int = lo
  def windowLen: Int = hi - lo
  def skipWindow(n: Int): Unit = { lo += n }
}

private[graft] object Gzip {

  /** Parse + validate one gzip member header off the feed: magic, CM,
    * FLG (FEXTRA/FNAME/FCOMMENT/FHCRC all handled; reserved bits
    * reject), with the optional header CRC verified over the bytes as
    * they stream past.
    */
  private def readHeader(feed: ByteFeed): Unit = {
    val hcrc = new java.util.zip.CRC32()
    def u8(msg: String): Int = { val b = feed.u8(msg); hcrc.update(b); b }
    val tm = "gzip: truncated header"
    require(u8(tm) == 0x1f && u8(tm) == 0x8b, "gzip: bad magic")
    require(u8(tm) == 8, "gzip: unknown compression method")
    val flg = u8(tm)
    require((flg & 0xe0) == 0, "gzip: reserved FLG bits set")
    var i = 0
    while (i < 6) { u8(tm); i += 1 } // MTIME, XFL, OS
    if ((flg & 4) != 0) { // FEXTRA
      val m = "gzip: truncated FEXTRA length"
      val xlen = u8(m) | (u8(m) << 8)
      var j = 0
      while (j < xlen) { u8("gzip: FEXTRA overruns"); j += 1 }
    }
    def zstr(): Unit =
      while (u8("gzip: unterminated header string") != 0) {}
    if ((flg & 8) != 0) zstr()  // FNAME
    if ((flg & 16) != 0) zstr() // FCOMMENT
    if ((flg & 2) != 0) {       // FHCRC: low 16 bits, NOT themselves CRC'd
      val m = "gzip: truncated FHCRC"
      val want = feed.u8(m) | (feed.u8(m) << 8)
      require((hcrc.getValue & 0xffffL).toInt == want,
        "gzip: header CRC mismatch")
    }
  }

  /** Incremental decoder for ONE gzip member: the header is parsed (and
    * validated) at construction; `read` inflates into the caller's
    * buffer; when the deflate stream ends, the trailer CRC32 and ISIZE
    * are verified against the bytes actually produced and `read` returns
    * -1. Memory: one feed window + inflater state — never the member.
    */
  final class MemberInflater(feed: ByteFeed) {
    readHeader(feed)
    private val inf = new java.util.zip.Inflater(true) // raw deflate
    private val crc = new java.util.zip.CRC32()
    private var total = 0L
    private var pending = 0 // window bytes currently lent to the inflater
    private var done = false

    def read(out: Array[Byte], off: Int, len: Int): Int = {
      if (done) return -1
      var k = 0
      while (k == 0 && !inf.finished()) {
        if (inf.needsInput()) {
          if (pending > 0) { feed.skipWindow(pending); pending = 0 }
          require(feed.available, "gzip: truncated deflate stream")
          inf.setInput(feed.windowArray, feed.windowOff, feed.windowLen)
          pending = feed.windowLen
        }
        k = try inf.inflate(out, off, len) catch {
          case e: java.util.zip.DataFormatException =>
            throw new IllegalArgumentException(
              "gzip: corrupt deflate stream: " + e.getMessage)
        }
      }
      if (k > 0) { crc.update(out, off, k); total += k; k }
      else { // deflate stream finished: settle accounting, check trailer
        feed.skipWindow(pending - inf.getRemaining); pending = 0
        inf.end()
        def le32(): Long = {
          val m = "gzip: truncated trailer"
          var v = 0L
          var i = 0
          while (i < 4) { v |= feed.u8(m).toLong << (8 * i); i += 1 }
          v
        }
        require(le32() == crc.getValue, "gzip: payload CRC mismatch")
        require(le32() == (total & 0xffffffffL), "gzip: ISIZE mismatch")
        done = true
        -1
      }
    }
  }

  /** Decode one full member off the feed — O(member) memory, which for
    * WARC's record-per-member layout is the documented O(largest record).
    */
  def memberBytes(feed: ByteFeed): Array[Byte] = {
    val mi = new MemberInflater(feed)
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](1 << 16)
    var k = mi.read(buf, 0, buf.length)
    while (k >= 0) { out.write(buf, 0, k); k = mi.read(buf, 0, buf.length) }
    out.toByteArray
  }

  /** A multi-member `.gz` file as one continuous InputStream — the tar
    * shape, where one member can span the whole archive so member-at-a-
    * time decode would be O(file). Each member's CRC32/ISIZE still
    * verifies as its trailer is crossed.
    */
  final class GunzipStream(feed: ByteFeed) extends java.io.InputStream {
    private var cur: MemberInflater = null
    private var n = 0
    private val one = new Array[Byte](1)
    def members: Int = n

    override def read(): Int = {
      val k = read(one, 0, 1)
      if (k < 0) -1 else one(0) & 0xff
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      if (len == 0) return 0
      while (true) {
        if (cur == null) {
          if (feed.atEof) return -1
          cur = new MemberInflater(feed); n += 1
        }
        val k = cur.read(b, off, len)
        if (k > 0) return k
        cur = null // member done (trailer verified); try the next
      }
      -1
    }
  }
}

private[graft] object StreamUtil {
  /** Wrap a lazy parse iterator so the underlying stream closes exactly
    * once — on exhaustion or on the first error (which rethrows).
    * `base` is BY NAME and evaluated inside the guard: parser
    * construction itself can reject (empty shard, no EOCD, sniff reads)
    * and the stream must close then too, not leak (r16 review).
    */
  def closeOnExhaust[T](in: java.io.Closeable, base: => Iterator[T]): Iterator[T] =
    new Iterator[T] {
      private var closed = false
      private var built: Iterator[T] = null
      private def closeQuietly(): Unit = if (!closed) {
        closed = true
        try in.close() catch { case _: java.io.IOException => () }
      }
      private def guarded[A](body: => A): A =
        try body catch {
          case e: Throwable => closeQuietly(); throw e
        }
      private def it: Iterator[T] = {
        if (built == null) built = base
        built
      }
      def hasNext: Boolean = {
        if (closed) false
        else {
          val h = guarded(it.hasNext)
          if (!h) closeQuietly()
          h
        }
      }
      def next(): T = {
        if (closed || !hasNext) throw new NoSuchElementException("stream closed")
        guarded(it.next())
      }
    }

  /** The lines of a text stream as raw bytes, terminators dropped. Lines
    * split on LF, CR or CRLF through Hadoop's `LineReader`, exactly where
    * `spark.read.text` splits them, and are never decoded: a record is
    * copied verbatim, whatever its encoding. One line is held at a time;
    * `in` closes on exhaustion or on the first error.
    */
  def rawLines(in: java.io.InputStream): Iterator[Array[Byte]] = {
    val reader = new org.apache.hadoop.util.LineReader(in)
    val line = new org.apache.hadoop.io.Text()
    closeOnExhaust(reader, Iterator.continually(reader.readLine(line))
      .takeWhile(_ > 0).map(_ => line.copyBytes()))
  }

  /** Defer a whole per-file pipeline (open, stat, parser construction)
    * to first use, so it runs INSIDE whatever guard wraps the iterator:
    * a file deleted between source listing and task execution must
    * surface as a guardable error, not an eager throw outside the
    * lenient poison path (r16 review).
    */
  def deferred[T](make: => Iterator[T]): Iterator[T] = new Iterator[T] {
    private lazy val it = make
    def hasNext: Boolean = it.hasNext
    def next(): T = it.next()
  }

  /** Degrade errors to ONE poison element and stop — the lenient
    * file-level guard shared by the ingestion arms: a damaged archive
    * yields its rows up to the damage point, then the caller's poison
    * marker, never a task failure (which a streaming micro-batch would
    * retry forever). The wrapped iterator must close its own stream on
    * error ([[closeOnExhaust]] does).
    */
  def poisonOnError[T](base: Iterator[T], poison: => T): Iterator[T] =
    new Iterator[T] {
      private var nextEl: Option[T] = None
      private var done = false
      private def advance(): Unit = {
        if (done || nextEl.isDefined) return
        try {
          if (base.hasNext) nextEl = Some(base.next()) else done = true
        } catch {
          case scala.util.control.NonFatal(_) =>
            done = true
            nextEl = Some(poison)
        }
      }
      def hasNext: Boolean = { advance(); nextEl.isDefined }
      def next(): T = {
        advance()
        val el = nextEl.getOrElse(throw new NoSuchElementException("poisoned"))
        nextEl = None
        el
      }
    }

  /** The per-file decode shape every archive arm shares, batch and
    * streaming: `path` opens at first use ([[deferred]]), `decode`
    * streams its rows, and the stream closes on exhaustion or error
    * ([[closeOnExhaust]]). Under `lenient` any error, the open included,
    * ends the file with ONE `poison` row ([[poisonOnError]]); strict
    * rethrows.
    */
  def fileRows[T](path: String, conf: org.apache.hadoop.conf.Configuration,
                  lenient: Boolean, poison: => T,
                  decode: org.apache.hadoop.fs.FSDataInputStream => Iterator[T])
      : Iterator[T] = {
    val base = deferred {
      val p = new org.apache.hadoop.fs.Path(path)
      val in = p.getFileSystem(conf).open(p)
      closeOnExhaust(in, decode(in))
    }
    if (lenient) poisonOnError(base, poison) else base
  }
}

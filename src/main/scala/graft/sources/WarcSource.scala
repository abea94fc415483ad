package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Shims

/** WARC (Web ARChive) ingestion — the container format web-scraped
  * training corpora actually arrive in (Common Crawl ships ~100 TB/crawl
  * of `.warc.gz`). Extends the reference's gzip-blob seam (reference:
  * Transforms/GunzipContentTransform.cs streams whole blobs through one
  * gunzip) to the MEMBER-PER-RECORD layout the WARC spec (ISO 28500
  * annex) prescribes for compressed archives: each record is an
  * independent gzip member, so a 1 GB file splits at member boundaries
  * and a reader never needs more than one record in memory.
  *
  * Three layers, each validated loudly:
  *  - gzip member walk: magic/CM/FLG (FEXTRA, FNAME, FCOMMENT, FHCRC all
  *    handled; reserved bits reject), raw-deflate inflate, then the
  *    trailer CRC32 AND ISIZE are checked against the decompressed bytes
  *    — a flipped payload byte fails the member, not the file after it.
  *  - WARC/1.0–1.1 record grammar: version line, CRLF header block,
  *    `Content-Length`-delimited payload, mandatory CRLF CRLF terminator.
  *    A record spanning gzip members rejects by name (the spec forbids
  *    the layout, and silently buffering across members would reintroduce
  *    the O(file) memory the member layout exists to avoid).
  *  - HTTP sub-parse for `application/http` payloads: status line +
  *    headers + body split, so response records surface status code,
  *    content type, and the HTML body.
  *
  * [[htmlText]] is the text-extraction stage a pretraining pipeline runs
  * next: a quote-aware tag scanner (not a regex — attribute values may
  * contain `>`), script/style/comment elision, entity decode, whitespace
  * collapse. The x100 gate checks container facts and x101 checks the
  * end-to-end extracted text against DuckDB re-deriving the same strings
  * from the documents table.
  *
  * 100 TB shape: one task per `.warc.gz` file ([[warcFiles]] uses
  * binaryFiles — file-granular parallelism, the same discipline as the
  * codec arms in [[Readers]]); within a task [[WarcIterator]] streams
  * `PortableDataStream.open()` through the [[ByteFeed]] window, decoding
  * one gzip member at a time and emitting rows lazily — O(largest
  * record) memory, with the whole file never in memory (proved by
  * `tools/WarcScale --single` at a 1 GB+ archive under a pressure-bound
  * heap). No shuffle anywhere: parse and extract are map-only;
  * downstream dedup/quality stages impose the first exchange.
  */
object WarcSource {

  private[graft] case class WarcRecord(
      warcType: String, targetUri: String, contentLength: Long,
      httpStatus: Int, httpContentType: String, body: String,
      bodyBytes: Long,
      // revisit linkage (ISO 28500 §6.7.2): Common Crawl's dedup emits
      // `WARC-Type: revisit` instead of re-storing an unchanged page —
      // refersTo/digest let a corpus bridge resolve the duplicate to the
      // original capture without refetching. Empty on non-revisit types.
      refersTo: String = "", payloadDigest: String = "",
      revisitProfile: String = "",
      // revisit URI linkage (WARC 1.1 §5.11–5.12): real crawl writers
      // point a revisit at its original by TARGET URI + date, not just
      // record id — what the write side's dedup mode emits and the
      // x130 loop resolves on
      refersToUri: String = "", refersToDate: String = "",
      // request/response pairing (§5.7): a request record names its
      // response's record id — the linkage x129's fact table counts
      concurrentTo: String = "",
      // the record's OWN id (§5.2) — what a sibling's Concurrent-To
      // must resolve against; the dedup+requests spec arm pins that
      // no pairing dangles at a never-written id (r19 advice)
      recordId: String = "",
      // capture instant (ISO 8601) — what a generated CDX line's
      // 14-digit timestamp derives from
      warcDate: String = "",
      // lenient body-degrade reason (null = body intact): coding:<name>
      // for undecodable codings (brotli), charset:<label> for
      // JVM-unresolvable charsets, damage for corruption — the honest
      // counters a crawl run reports instead of a silent null body
      degraded: String = null)
  private[graft] case class WarcFile(
      gzip: Boolean, nMembers: Int, records: Seq[WarcRecord])

  // ---------------------------------------------------------------- gzip

  /** Decode one gzip member starting at `start`; returns (data, end).
    * Array-convenience wrapper over the streaming walker in [[Gzip]] —
    * one grammar, one set of CRC32/ISIZE checks, both call shapes.
    */
  private[graft] def gzipMember(bytes: Array[Byte], start: Int): (Array[Byte], Int) = {
    val feed = new ByteFeed(new java.io.ByteArrayInputStream(
      bytes, start, bytes.length - start))
    val data = Gzip.memberBytes(feed)
    (data, start + feed.consumedBytes.toInt)
  }

  // ---------------------------------------------------------------- warc

  /** One header/version line off the feed: bytes to the next CRLF (a
    * lone CR stays in the line, matching the pair-scan grammar), decoded
    * ISO-8859-1. EOF mid-line throws `msg` — truncation or a record
    * spanning gzip members, whichever the caller is walking.
    */
  private def readLine(feed: ByteFeed, msg: String): String = {
    val sb = new java.lang.StringBuilder(64)
    var done = false
    while (!done) {
      // scan the buffered window for the next LF instead of per-byte
      // u8() calls (measured ~15% of the container walk before this)
      require(feed.available, msg)
      val buf = feed.windowArray
      val off = feed.windowOff
      val len = feed.windowLen
      var nl = -1
      var i = 0
      while (nl < 0 && i < len) {
        if (buf(off + i) == 10) nl = i
        i += 1
      }
      val upTo = if (nl < 0) len else nl
      var j = 0
      while (j < upTo) { sb.append((buf(off + j) & 0xff).toChar); j += 1 }
      feed.skipWindow(upTo)
      if (nl >= 0) {
        feed.skipWindow(1) // the LF
        if (sb.length > 0 && sb.charAt(sb.length - 1) == '\r') {
          sb.setLength(sb.length - 1); done = true
        } else sb.append('\n') // lone LF stays in the line (pair grammar)
      }
    }
    sb.toString
  }

  /** Decoded-entity size cap: a `Content-Encoding: gzip` body is
    * attacker-supplied compressed data (the GIF/TIFF hostile-header
    * discipline), so inflation is bounded BEFORE it happens — a 1 GiB
    * entity from one page is damage, not content.
    */
  private val MaxHttpEntity = 1L << 30

  /** De-chunk a `Transfer-Encoding: chunked` body (RFC 9112 §7.1): hex
    * size line (chunk extensions after ';' ignored), chunk data + CRLF,
    * zero-size terminal chunk, optional trailer fields, final empty
    * line. Bytes after the terminal chunk are a framing violation (the
    * WARC payload is exactly one HTTP message).
    */
  private[graft] def dechunk(raw: Array[Byte]): Array[Byte] = {
    val feed = ByteFeed.wrap(raw)
    val out = new java.io.ByteArrayOutputStream()
    val tm = "http: truncated chunked body"
    var done = false
    while (!done) {
      val line = readLine(feed, tm)
      val semi = line.indexOf(';')
      val hex = (if (semi >= 0) line.substring(0, semi) else line).trim
      // explicit ASCII hex (ADVICE r17): Character.digit is Unicode-
      // aware; readLine's Latin-1 decode keeps chars below 0x100 where
      // the tables happen to coincide, but the strictness should not
      // depend on that coincidence (WatSource.Jsons discipline)
      require(hex.nonEmpty && hex.length <= 8 &&
        hex.forall(c => (c >= '0' && c <= '9') ||
          (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')),
        s"http: bad chunk size line '$line'")
      val n = java.lang.Long.parseLong(hex, 16)
      if (n == 0) {
        // trailer fields end at the empty line — OR at EOF: wget's WARC
        // writer records the trailer lines but drops the final blank
        // line (observed against a live trailer-sending server), and
        // every entity byte is already in hand by the terminal chunk
        var t = if (feed.atEof) "" else readLine(feed, tm)
        while (t.nonEmpty) t = if (feed.atEof) "" else readLine(feed, tm)
        done = true
      } else {
        require(out.size + n <= MaxHttpEntity, "http: entity exceeds 1 GiB")
        out.write(feed.bytes(n.toInt, tm))
        require(feed.u8(tm) == 13 && feed.u8(tm) == 10,
          "http: chunk data missing CRLF")
      }
    }
    require(feed.atEof, "http: bytes after final chunk")
    out.toByteArray
  }

  /** Inflate a full deflate stream (`zlib` selects the RFC 1950 wrapper
    * vs raw RFC 1951), bounded at [[MaxHttpEntity]].
    */
  private def inflateAll(data: Array[Byte], zlib: Boolean): Array[Byte] = {
    val inf = new java.util.zip.Inflater(!zlib)
    val out = new java.io.ByteArrayOutputStream()
    try {
      inf.setInput(data)
      val buf = new Array[Byte](1 << 16)
      while (!inf.finished()) {
        val k = try inf.inflate(buf) catch {
          case e: java.util.zip.DataFormatException =>
            throw new IllegalArgumentException(
              "http: corrupt deflate body: " + e.getMessage)
        }
        if (k == 0) {
          require(!inf.needsInput() && !inf.needsDictionary(),
            "http: truncated deflate body")
        }
        out.write(buf, 0, k)
        require(out.size.toLong <= MaxHttpEntity, "http: entity exceeds 1 GiB")
      }
    } finally inf.end()
    out.toByteArray
  }

  /** The declared charset of a Content-Type value, resolved to a JVM
    * charset. Real crawls are NOT all UTF-8: legacy pages declare
    * iso-8859-1 / windows-1252 routinely, and decoding their bytes as
    * UTF-8 corrupts every non-ASCII character to U+FFFD. Supported:
    * the utf-8/16 family, latin-1, windows-1252, us-ascii; an absent
    * charset defaults to UTF-8 (the modern-web default — html5's
    * windows-1252 legacy default would mis-decode the UTF-8 majority);
    * an unknown label throws (lenient mode degrades the body like any
    * other body-layer damage, keeping the envelope).
    */
  // hoisted: charsetOf runs per textual record on the hot extraction
  // path — a fresh Pattern.compile per call is pure waste (r17 review)
  private val CharsetParam = java.util.regex.Pattern
    .compile("(?i)charset\\s*=\\s*\"?([^;\\s\"]+)\"?")

  private[graft] def charsetOf(ct: String): java.nio.charset.Charset = {
    val m = CharsetParam.matcher(ct)
    val name = if (m.find()) m.group(1).toLowerCase else ""
    name match {
      case "" | "utf-8" | "utf8" => java.nio.charset.StandardCharsets.UTF_8
      case "iso-8859-1" | "latin-1" | "latin1" | "l1" =>
        java.nio.charset.StandardCharsets.ISO_8859_1
      case "us-ascii" | "ascii" => java.nio.charset.StandardCharsets.US_ASCII
      case "windows-1252" | "cp1252" | "cp-1252" =>
        java.nio.charset.Charset.forName("windows-1252")
      case other =>
        // the legacy web is not a short list — windows-1251, shift_jis,
        // gb2312, euc-kr, big5, koi8-r are huge real-crawl populations
        // the JVM decodes natively; only a label the JVM cannot resolve
        // is damage (r17 review: a whitelist here silently DROPPED
        // those pages under lenient, a regression vs the old
        // unconditional UTF-8 decode)
        try java.nio.charset.Charset.forName(other) catch {
          case _: java.nio.charset.IllegalCharsetNameException |
              _: java.nio.charset.UnsupportedCharsetException =>
            throw new UnsupportedCharset(other)
        }
    }
  }

  /** Typed body-degrade causes: the lenient path tells apart "this
    * coding/charset is beyond the engine" (a capability gap, countable
    * per label — the `Content-Encoding: br` population is the big one)
    * from "these bytes are damaged" (corruption). Both are
    * IllegalArgumentException so every existing strict-mode contract
    * (specs, fuzz sweep) is unchanged.
    */
  private[graft] final class UnsupportedCoding(val coding: String)
    extends IllegalArgumentException(
      s"http: unsupported content coding '$coding'")
  private[graft] final class UnsupportedCharset(val label: String)
    extends IllegalArgumentException(s"http: unsupported charset '$label'")

  /** Undo one content/transfer coding. gzip reuses the member walker
    * (CRC32 + ISIZE verified per member; multi-member streams legal);
    * deflate sniffs the zlib wrapper (RFC 9110 names zlib, but raw
    * deflate is a famously common server bug — both occur in crawls).
    */
  private def decodeCoding(data: Array[Byte], coding: String): Array[Byte] =
    coding match {
      case "identity" | "" => data
      case "gzip" | "x-gzip" =>
        val feed = ByteFeed.wrap(data)
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](1 << 16)
        val gs = new Gzip.GunzipStream(feed)
        var k = gs.read(buf, 0, buf.length)
        while (k >= 0) {
          out.write(buf, 0, k)
          require(out.size.toLong <= MaxHttpEntity, "http: entity exceeds 1 GiB")
          k = gs.read(buf, 0, buf.length)
        }
        out.toByteArray
      case "deflate" =>
        val zlib = data.length >= 2 && (data(0) & 0x0f) == 8 &&
          (((data(0) & 0xff) << 8 | (data(1) & 0xff)) % 31 == 0)
        inflateAll(data, zlib)
      case "br" =>
        // own RFC 7932 decoder ([[Brotli]]) — br is the second-biggest
        // coding population in modern crawler archives; the bound is the
        // same pre-inflation entity cap as the gzip arm
        Brotli.decode(data, MaxHttpEntity)
      case "zstd" =>
        // RFC 8878 content coding — rare on the public web but live in
        // fetcher stacks that advertise it; zstd-jni rides Spark's own
        // classpath (the zstdLines/A9 discipline), bound enforced during
        // streaming inflate, damage surfaced as the typed data error
        val out = new java.io.ByteArrayOutputStream()
        val zin = new com.github.luben.zstd.ZstdInputStream(
          new java.io.ByteArrayInputStream(data))
        try {
          val buf = new Array[Byte](1 << 16)
          var k = try zin.read(buf) catch {
            case e: java.io.IOException =>
              throw new IllegalArgumentException(
                "http: corrupt zstd body: " + e.getMessage)
          }
          while (k >= 0) {
            out.write(buf, 0, k)
            require(out.size.toLong <= MaxHttpEntity, "http: entity exceeds 1 GiB")
            k = try zin.read(buf) catch {
              case e: java.io.IOException =>
                throw new IllegalArgumentException(
                  "http: corrupt zstd body: " + e.getMessage)
            }
          }
        } finally {
          // close() can itself throw on trailing damage — wrap it like
          // the reads, or the IOException escapes httpFacts' lenient
          // RuntimeException catch and fails the TASK instead of
          // degrading the page (r18 ADVICE)
          try zin.close() catch {
            case e: java.io.IOException =>
              throw new IllegalArgumentException(
                "http: corrupt zstd body: " + e.getMessage)
          }
        }
        out.toByteArray
      case other => throw new UnsupportedCoding(other)
    }

  /** HTTP message facts from an `application/http` payload:
    * (status, content-type, decoded body or null, DECODED entity byte
    * count). Request payloads (no HTTP/ status line) return
    * (-1, "", null, 0). The wire form is undone before the byte count
    * and the textual split: `Transfer-Encoding: chunked` framing is
    * removed (real crawler WARCs — Heritrix, wget vs HTTP/1.1 — store
    * the raw wire bytes, which are routinely chunked) and
    * `Content-Encoding: gzip|deflate` is inflated, so byte counts and
    * text extraction always measure the ENTITY, never chunk-size lines
    * or DEFLATE bytes. Under `lenientBody`, damage INSIDE the body
    * codings degrades to (status kept, null body, wire byte count) —
    * the envelope parsed, so the page stays countable; strict mode
    * throws. The body decodes to a String ONLY for textual content
    * types — binary bodies (images, PDFs) stay bytes-only, a UTF-8
    * decode would corrupt them to U+FFFD while doubling memory.
    */
  private[graft] def httpFacts(payload: Array[Byte],
                               lenientBody: Boolean = false)
      : (Int, String, String, Long, String) = {
    var he = -1
    var i = 0
    while (he < 0 && i + 3 < payload.length) {
      if (payload(i) == 13 && payload(i + 1) == 10 &&
        payload(i + 2) == 13 && payload(i + 3) == 10) he = i
      else i += 1
    }
    require(he >= 0, "warc: http payload missing header terminator")
    val head = new String(payload, 0, he, "ISO-8859-1")
    val lines = head.split("\r\n")
    val first = lines.head.split(" ", 3)
    if (!first(0).startsWith("HTTP/")) return (-1, "", null, 0L, null)
    require(first.length >= 2, s"warc: bad status line '${lines.head}'")
    val status = first(1).toInt
    def header(name: String): String = lines.tail.map(_.split(":", 2)).collectFirst {
      case Array(k, v) if k.trim.equalsIgnoreCase(name) => v.trim
    }.getOrElse("")
    val ct = header("content-type")
    val off = he + 4
    val lc = ct.toLowerCase
    val textual = lc.startsWith("text/") ||
      lc.startsWith("application/xhtml+xml") ||
      lc.startsWith("application/xml") || lc.startsWith("application/json")
    try {
      val teCodings = header("transfer-encoding").toLowerCase
        .split(",").map(_.trim).filter(_.nonEmpty).toList
      val ceCodings = header("content-encoding").toLowerCase
        .split(",").map(_.trim).filter(_.nonEmpty).toList
      if (teCodings.isEmpty && ceCodings.isEmpty) {
        // the overwhelmingly common wire form: no codings — decode
        // straight off the payload slice, zero copies (this is the hot
        // extraction path the WarcScale MB/s numbers were measured on)
        val nBytes = (payload.length - off).toLong
        val body =
          if (textual)
            new String(payload, off, payload.length - off, charsetOf(ct))
          else null
        (status, ct, body, nBytes, null)
      } else {
        // transfer codings are applied last by the sender, so undone
        // first; then content codings, last-listed innermost
        val raw = java.util.Arrays.copyOfRange(payload, off, payload.length)
        val afterTe = teCodings.reverse.foldLeft(raw) { (d, c) =>
          if (c == "chunked") dechunk(d) else decodeCoding(d, c)
        }
        val entity = ceCodings.reverse.foldLeft(afterTe)(decodeCoding)
        val body = if (textual) new String(entity, charsetOf(ct)) else null
        (status, ct, body, entity.length.toLong, null)
      }
    } catch {
      case e: RuntimeException =>
        if (!lenientBody) throw e
        // the ENVELOPE parsed; only the body layer failed — keep
        // status/type so the page stays countable downstream, and SAY
        // WHY: a capability gap (br, exotic charset) is not corruption
        val reason = e match {
          case u: UnsupportedCoding => s"coding:${u.coding}"
          case u: UnsupportedCharset => s"charset:${u.label}"
          case _ => "damage"
        }
        (status, ct, null, (payload.length - off).toLong, reason)
    }
  }

  /** One record off the feed: version line, CRLF header block,
    * Content-Length payload, mandatory CRLF CRLF terminator. The HTTP
    * sub-parse runs OUTSIDE the container grammar: under `lenientHttp` a
    * malformed HTTP payload degrades to status -1 / null body (a crawl
    * server must outlive malformed pages) while container damage still
    * throws; strict mode keeps both loud.
    */
  private[graft] def readRecord(feed: ByteFeed, partialMsg: String,
                                lenientHttp: Boolean): WarcRecord = {
    val version = readLine(feed, partialMsg)
    require(version == "WARC/1.0" || version == "WARC/1.1",
      s"warc: bad version line '$version'")
    val headers = scala.collection.mutable.Map[String, String]()
    var h = readLine(feed, partialMsg)
    while (h.nonEmpty) {
      val c = h.indexOf(':')
      require(c > 0, s"warc: malformed header '$h'")
      headers(h.substring(0, c).trim.toLowerCase) = h.substring(c + 1).trim
      h = readLine(feed, partialMsg)
    }
    val clen = headers.getOrElse("content-length",
      sys.error("warc: missing Content-Length")).toLong
    require(clen >= 0, partialMsg)
    require(clen <= Int.MaxValue - 16, "warc: record exceeds 2 GiB (unsupported)")
    val payload = feed.bytes(clen.toInt, partialMsg)
    val t0 = feed.u8(partialMsg); val t1 = feed.u8(partialMsg)
    val t2 = feed.u8(partialMsg); val t3 = feed.u8(partialMsg)
    require(t0 == 13 && t1 == 10 && t2 == 13 && t3 == 10,
      "warc: missing record terminator")
    val wtype = headers.getOrElse("warc-type", "")
    val ctype = headers.getOrElse("content-type", "")
    var status = -1
    var httpCt = ""
    var body: String = null
    var bodyBytes = 0L
    var degraded: String = null
    if (ctype.startsWith("application/http")) {
      try {
        val (s, ct, b, nb, dg) = httpFacts(payload, lenientBody = lenientHttp)
        status = s; httpCt = ct; body = b; bodyBytes = nb; degraded = dg
      } catch {
        case e: RuntimeException =>
          if (!lenientHttp) throw e
          // degraded page: countable downstream, never kills the archive
          status = -1; httpCt = ""; body = null
          bodyBytes = payload.length.toLong
          degraded = "damage"
      }
    } else if (ctype.startsWith("text/") ||
      ctype.startsWith("application/json")) {
      // non-HTTP textual payloads — Common Crawl's WET `conversion`
      // records (text/plain extracted text) and WAT `metadata` records
      // (application/json envelopes) are the big populations; the
      // whole payload IS the body, no sub-parse
      body = new String(payload, "UTF-8")
      bodyBytes = payload.length.toLong
    }
    // ISO 28500's WARC/1.0 grammar writes URIs in angle brackets (wget
    // does); WARC/1.1 dropped them — normalize so consumers see one form
    val uri0 = headers.getOrElse("warc-target-uri", "")
    val uri = if (uri0.length >= 2 && uri0.head == '<' && uri0.last == '>')
      uri0.substring(1, uri0.length - 1) else uri0
    // revisit linkage headers (kept for every type that carries them —
    // responses also declare WARC-Payload-Digest, which is what a
    // revisit's digest resolves against)
    def bare(v: String): String =
      if (v.length >= 2 && v.head == '<' && v.last == '>')
        v.substring(1, v.length - 1) else v
    WarcRecord(wtype, uri, clen, status, httpCt, body, bodyBytes,
      refersTo = bare(headers.getOrElse("warc-refers-to", "")),
      payloadDigest = headers.getOrElse("warc-payload-digest", ""),
      revisitProfile = headers.getOrElse("warc-profile", ""),
      refersToUri = bare(headers.getOrElse("warc-refers-to-target-uri", "")),
      refersToDate = headers.getOrElse("warc-refers-to-date", ""),
      concurrentTo = bare(headers.getOrElse("warc-concurrent-to", "")),
      recordId = bare(headers.getOrElse("warc-record-id", "")),
      warcDate = headers.getOrElse("warc-date", ""),
      degraded = degraded)
  }

  /** Lazy record walk over a `.warc` / `.warc.gz` stream — O(largest
    * record) memory: the gzip arm decodes one member at a time (the
    * record-per-member layout bounds members at record size; a record
    * spanning members rejects by name), the plain arm reads one record's
    * header + payload at a time. Never buffers the file or the records.
    */
  private[graft] final class WarcIterator(in: java.io.InputStream,
                                          lenientHttp: Boolean)
      extends Iterator[WarcRecord] {
    private val feed = new ByteFeed(in)
    require(feed.ensure2(), "warc: empty file")
    val gzip: Boolean = feed.peek(0) == 0x1f && feed.peek(1) == 0x8b
    private var nMembers = 0
    def members: Int = nMembers
    private var memberFeed: ByteFeed = null // current gzip member's records
    // measured boundary of the record `next()` last returned, in ARCHIVE
    // bytes — what a generated CDX pointer is (gzip: the record's whole
    // member, the unit fetchRecord inflates; plain: the record slice).
    // lastSoloMember says the gzip member held exactly that one record —
    // the layout a CDX pointer REQUIRES (an offset into a shared member
    // cannot be fetched member-at-a-time).
    private var memberStart = 0L
    private var memberEnd = 0L
    private var lastStart = 0L
    private var lastEnd = 0L
    private var lastSolo = true
    def lastOffset: Long = lastStart
    def lastLength: Long = lastEnd - lastStart
    def lastSoloMember: Boolean = lastSolo

    def hasNext: Boolean =
      if (memberFeed != null && !memberFeed.atEof) true
      else if (feed.atEof) false
      else if (!gzip) true
      else { // decode the next member; loop in case one holds no records
        memberStart = feed.consumedBytes
        memberFeed = ByteFeed.wrap(Gzip.memberBytes(feed))
        memberEnd = feed.consumedBytes
        nMembers += 1
        hasNext
      }

    def next(): WarcRecord = {
      if (!hasNext) throw new NoSuchElementException("warc")
      if (gzip) {
        val fresh = memberFeed.consumedBytes == 0
        val r = readRecord(memberFeed,
          "warc: record spans gzip members (unsupported)", lenientHttp)
        lastStart = memberStart; lastEnd = memberEnd
        lastSolo = fresh && memberFeed.atEof
        r
      } else {
        lastStart = feed.consumedBytes
        val r = readRecord(feed, "warc: truncated record", lenientHttp)
        lastEnd = feed.consumedBytes
        lastSolo = true
        r
      }
    }
  }

  /** Parse the records of one decompressed chunk (one gzip member, or the
    * whole file when uncompressed). Requires exact consumption: a partial
    * record means the archive violated record-per-member (gzip) or is
    * simply truncated (plain) — the error names whichever applies.
    */
  private[graft] def parseRecords(data: Array[Byte],
                                  inGzipMember: Boolean = true): Seq[WarcRecord] = {
    val partialMsg =
      if (inGzipMember) "warc: record spans gzip members (unsupported)"
      else "warc: truncated record"
    val feed = ByteFeed.wrap(data)
    val out = scala.collection.mutable.ArrayBuffer[WarcRecord]()
    while (!feed.atEof) out += readRecord(feed, partialMsg, lenientHttp = false)
    out.toSeq
  }

  /** Parse a `.warc` / `.warc.gz` byte blob into a materialized
    * [[WarcFile]] — the gate/spec convenience over [[WarcIterator]];
    * the ingestion arms ([[warcFiles]], streaming ingest) stay on the
    * iterator and never materialize a file's records.
    */
  private[graft] def parseWarc(bytes: Array[Byte]): WarcFile = {
    val it = new WarcIterator(new java.io.ByteArrayInputStream(bytes),
      lenientHttp = false)
    val recs = it.toList
    WarcFile(it.gzip, it.members, recs)
  }

  // ---------------------------------------------------------------- html

  private val voidTags = Set("br", "img", "hr", "meta", "link", "input",
    "area", "base", "col", "embed", "source", "track", "wbr")

  /** THE html tokenizer — one quote-aware pass shared by [[htmlText]]
    * and [[bodyBlocks]] (a reviewer caught them drifting as two copies).
    * Comments and script/style CONTENT are elided here, so no consumer
    * ever sees them; a skipped script/style element is reported as one
    * self-closed tag so consumers' depth tracking stays balanced. Void
    * tags (br, img, ...) report selfClosed=true.
    */
  private def scanHtml(html: String)(
      onTag: (String, Boolean, Boolean) => Unit, onText: Char => Unit): Unit = {
    val n = html.length
    var i = 0
    def findIc(needle: String, from: Int): Int = {
      var j = from
      while (j + needle.length <= n) {
        if (html.regionMatches(true, j, needle, 0, needle.length)) return j
        j += 1
      }
      -1
    }
    while (i < n) {
      val c = html.charAt(i)
      if (c == '<') {
        if (html.regionMatches(false, i, "<!--", 0, 4)) {
          val e = html.indexOf("-->", i + 4)
          require(e >= 0, "html: unterminated comment")
          i = e + 3
        } else {
          var j = i + 1
          var q: Char = 0
          while (j < n && (q != 0 || html.charAt(j) != '>')) {
            val ch = html.charAt(j)
            if (q == 0 && (ch == '"' || ch == '\'')) q = ch
            else if (q != 0 && ch == q) q = 0
            j += 1
          }
          require(j < n, "html: unterminated tag")
          val inner = html.substring(i + 1, j)
          i = j + 1
          val closing = inner.startsWith("/")
          // letterOrDigit: h1–h6 are tags too (isLetter truncated to 'h')
          val name = inner.dropWhile(_ == '/').takeWhile(_.isLetterOrDigit).toLowerCase
          var selfClosed = inner.endsWith("/") || voidTags(name)
          if ((name == "script" || name == "style") && !closing && !selfClosed) {
            val e = findIc("</" + name, i)
            require(e >= 0, s"html: unterminated <$name> element")
            val close = html.indexOf('>', e)
            require(close >= 0, s"html: unterminated </$name> tag")
            i = close + 1
            selfClosed = true // content + close tag consumed here
          }
          onTag(name, closing, selfClosed)
        }
      } else { onText(c); i += 1 }
    }
  }

  /** Extract visible text from HTML: quote-aware tag scan (each tag
    * becomes one space), script/style elision including their content,
    * comment elision, entity decode (&amp; &lt; &gt; &quot; &apos;
    * &#N; &#xN;), whitespace collapse.
    */
  private[graft] def htmlText(html: String): String = {
    val sb = new StringBuilder
    scanHtml(html)((_, _, _) => sb.append(' '), c => sb.append(c))
    decodeEntities(sb.toString).split("\\s+").filter(_.nonEmpty).mkString(" ")
  }

  /** Entity decode on tag-free text: named (&amp; &lt; &gt; &quot;
    * &apos;), decimal and hex numeric refs; a bare or unknown '&' stays
    * literal, per browsers.
    */
  private[graft] def decodeEntities(raw: String): String = {
    val out = new StringBuilder
    var i = 0
    while (i < raw.length) {
      val c = raw.charAt(i)
      if (c == '&') {
        val e = raw.indexOf(';', i + 1)
        val name = if (e > i && e - i <= 10) raw.substring(i + 1, e) else null
        val rep = name match {
          case "amp" => "&"
          case "lt" => "<"
          case "gt" => ">"
          case "quot" => "\""
          case "apos" => "'"
          // numeric refs must reach supplementary planes (emoji are
          // ubiquitous in crawled text): parse as Long (name is <=9
          // chars, so no overflow), validate the codepoint, and emit the
          // surrogate PAIR — .toChar would truncate to a wrong BMP char
          case s if s != null && s.startsWith("#x") && s.length > 2 &&
            s.drop(2).forall(ch => Character.digit(ch, 16) >= 0) =>
            codePointStr(java.lang.Long.parseLong(s.drop(2), 16))
          case s if s != null && s.startsWith("#") && s.length > 1 &&
            s.drop(1).forall(_.isDigit) =>
            codePointStr(java.lang.Long.parseLong(s.drop(1)))
          case _ => null
        }
        if (rep != null) { out.append(rep); i = e + 1 }
        else { out.append(c); i += 1 }
      } else { out.append(c); i += 1 }
    }
    out.toString
  }

  /** Valid codepoint → its string (surrogate pair above the BMP);
    * out-of-range or surrogate values → null, so the caller falls back
    * to the literal-'&' path like any other unknown reference.
    */
  private def codePointStr(v: Long): String =
    // the surrogate exclusion must be a RANGE test on the codepoint —
    // isSurrogate(v.toInt.toChar) truncates to 16 bits and would falsely
    // reject valid supplementary codepoints like U+1D800
    if (v >= 0 && v <= 0x10FFFF && !(v >= 0xD800 && v <= 0xDFFF))
      new String(Character.toChars(v.toInt))
    else null

  private[graft] def escapeHtml(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  // -------------------------------------------------- main-content

  private[graft] case class HtmlBlock(tag: String, text: String,
      textChars: Long, linkChars: Long)

  /** Segment the `<body>` into its top-level element blocks, tracking
    * per-block visible text and the share of it that sits inside `<a>`
    * elements — the signal readability-style boilerplate removal keys
    * on (nav/footer link farms have link ratios near 1, article bodies
    * near 0). Char counts exclude whitespace so both engines count the
    * same thing regardless of collapse behavior.
    */
  private[graft] def bodyBlocks(html: String): Seq[HtmlBlock] = {
    val out = scala.collection.mutable.ArrayBuffer[HtmlBlock]()
    var inBody = false
    var depth = 0 // element depth RELATIVE to body
    var aDepth = 0
    var blockTag = ""
    var sb: StringBuilder = null
    var text = 0L; var link = 0L
    def closeBlock(): Unit = {
      if (sb != null) {
        val t = sb.toString.split("\\s+").filter(_.nonEmpty).mkString(" ")
        out += HtmlBlock(blockTag, t, text, link)
        sb = null; text = 0; link = 0
      }
    }
    scanHtml(html)(
      onTag = { (name, closing, selfClosed) =>
        if (name == "body") {
          if (!closing) { inBody = true; depth = 0 }
          else { closeBlock(); inBody = false }
        } else if (inBody && !selfClosed) {
          if (!closing) {
            if (depth == 0) { closeBlock(); blockTag = name; sb = new StringBuilder }
            if (name == "a") aDepth += 1
            depth += 1
          } else {
            if (name == "a" && aDepth > 0) aDepth -= 1
            depth -= 1
            require(depth >= 0, s"html: stray closing </$name> in body")
            if (depth == 0) closeBlock()
          }
        }
        if (sb != null) sb.append(' ')
      },
      onText = { c =>
        if (sb != null && depth > 0) {
          sb.append(c)
          if (!c.isWhitespace) {
            text += 1
            if (aDepth > 0) link += 1
          }
        }
      })
    out.toSeq
  }

  /** Readability-style main-content extraction: drop body blocks whose
    * visible text is mostly link text (ratio in ppm above the cap —
    * nav bars, footers, related-links farms), keep the rest in document
    * order. The block texts pass through the same entity decode as
    * [[htmlText]].
    */
  private[graft] def mainText(html: String, maxLinkPpm: Long = 500000L): String = {
    val kept = bodyBlocks(html).filter { b =>
      b.textChars > 0 && b.linkChars * 1000000L <= maxLinkPpm * b.textChars
    }
    decodeEntities(kept.map(_.text).mkString(" "))
      .split("\\s+").filter(_.nonEmpty).mkString(" ")
  }

  // Boilerplate fixture for x106 (oracle re-derives every number from
  // doc_id/text arithmetic): a nav link farm (ratio 1.0), the main div
  // (one inline link over the doc text), a link-heavy footer (12/14).
  private[graft] def htmlBoilerOf(id: Long, text: String): String =
    "<html><head><title>t " + id + "</title><style>a{}</style></head><body>" +
      "<nav><a href=\"/\">home " + (id % 5) + "</a><a href=\"/b\">about</a>" +
      "<a href=\"/c\">contact</a></nav>" +
      "<div id=\"m\"><p>see <a href=\"/x\">link " + (id % 3) + "</a> " +
      escapeHtml(text) + "</p><p>extra " + id + " words</p></div>" +
      "<footer><a href=\"/p\">privacy</a><a href=\"/t\">terms</a> c" +
      (id % 7) + "</footer></body></html>"

  /** x106 gate: per-block link-density stats + the extracted main text. */
  def mainContentTable(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val html = htmlBoilerOf(id, text)
        val blocks = bodyBlocks(html)
        def ppm(tag: String): Long = {
          val b = blocks.find(_.tag == tag)
            .getOrElse(sys.error(s"html: no <$tag> block in doc $id"))
          b.linkChars * 1000000L / b.textChars
        }
        val kept = blocks.count(b => b.textChars > 0 &&
          b.linkChars * 1000000L <= 500000L * b.textChars)
        (id, blocks.size, kept, ppm("nav"), ppm("div"), ppm("footer"),
          mainText(html))
      }
      .toDF("doc_id", "n_blocks", "n_kept", "nav_ppm", "div_ppm",
        "footer_ppm", "main_text")
  }

  // ------------------------------------------------------------- fixture

  // Fixture arithmetic (the DuckDB oracle re-derives everything):
  //   k = doc_id % 3 + 1 responses; a request precedes each response when
  //   doc_id % 4 == 0; gzip member-per-record when doc_id % 2 == 0, plain
  //   concatenation otherwise. Response j: uri http://site{id%7}.example/
  //   {id}/{j}, status 404 when (id+j)%5==0 else 200, html body embeds
  //   the document's text at j==0 and "word{(id*7+j)%50} page {id} {j}"
  //   otherwise. Wire form varies so the decode paths are gate-checked:
  //   Transfer-Encoding: chunked when (id+j)%3==1, Content-Encoding:
  //   gzip when (id+j)%4==2, Content-Encoding: br when (id+j)%4==0
  //   (chunked composes with either where the moduli coincide) — the
  //   oracle's body_bytes/extracted columns are DECODED-entity
  //   facts, so they are invariant to the wire form, which is exactly
  //   what makes a framing or inflation slip fail the hash. One revisit
  //   record (refers to response 0, digest sha1:FIX{id%97}) when
  //   id%3==1.
  private[graft] def htmlOf(id: Long, j: Int, text: String): String = {
    val t = if (j == 0) escapeHtml(text)
      else "word" + ((id * 7 + j) % 50) + " page " + id + " " + j
    "<!DOCTYPE html><html><head><title>doc " + id + "</title>" +
      "<style>body{color:#000}</style>" +
      "<script>var x=\"<div>no</div>\";</script></head><body><h1>Doc " +
      id + "</h1><p>" + t + "</p><!-- note <p>skip</p> -->" +
      "<div class=\"f\">footer " + (id % 11) + "</div></body></html>"
  }

  private def record(headers: Seq[(String, String)], payload: Array[Byte]): Array[Byte] = {
    val h = new StringBuilder("WARC/1.0\r\n")
    (headers :+ ("Content-Length" -> payload.length.toString)).foreach {
      case (k, v) => h.append(k).append(": ").append(v).append("\r\n")
    }
    h.append("\r\n")
    h.toString.getBytes("ISO-8859-1") ++ payload ++ "\r\n\r\n".getBytes("ISO-8859-1")
  }

  private[graft] def gzipOne(data: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bos)
    g.write(data); g.close()
    bos.toByteArray
  }

  /** Chunk-encode a body for the fixture's wire-form arm: 57-byte
    * chunks (so real multi-chunk reassembly happens), a chunk extension
    * on the first chunk and a trailer field on odd ids (both must be
    * parsed-and-ignored per RFC 9112).
    */
  private[graft] def chunkEncode(entity: Array[Byte], id: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def ascii(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    var off = 0
    var first = true
    while (off < entity.length) {
      val n = math.min(57, entity.length - off)
      val ext = if (first && id % 2 == 1) ";gf=1" else ""
      ascii(Integer.toHexString(n) + ext + "\r\n")
      out.write(entity, off, n)
      ascii("\r\n")
      off += n; first = false
    }
    ascii(if (id % 2 == 1) "0\r\nX-Graft-Trailer: t" + (id % 9) + "\r\n\r\n"
          else "0\r\n\r\n")
    out.toByteArray
  }

  // HOISTED archive synthesis (r18 judge: x119/x122/x124/x125 each
  // re-derived the per-doc WARC bytes independently, and the r18 br
  // fixture arm made every derivation pay a brotli encode per record —
  // the same shape the r17 frontier hoist fixed for x109/x111/x118).
  // One JVM-wide memo keyed by (id, text) — the full inputs, so two
  // suites using different texts for one id cannot cross-pollute.
  // BYTE-budgeted, not entry-counted: the scale probes (WarcScale,
  // CdxScale) synthesize multi-GB corpora through this same builder,
  // and an entry cap alone would retain them wholesale. Past the
  // budget the memo clears; the cost is one recompute wave, the
  // invariant is O(budget) retained memory. Callers treat the returned
  // array as immutable (they already did — reads only).
  private val warcOfMemo =
    new java.util.concurrent.ConcurrentHashMap[(Long, String), Array[Byte]]()
  private val warcOfMemoBytes = new java.util.concurrent.atomic.AtomicLong(0)
  private val WarcOfMemoBudget = 256L << 20

  private[graft] def warcOf(id: Long, text: String): Array[Byte] = {
    val k = (id, text)
    val cached = warcOfMemo.get(k)
    if (cached != null) return cached
    val recs = warcRecordsOf(id, text)
    val out = if (id % 2 == 0) recs.flatMap(gzipOne) // member per record
              else recs.flatten
    val cost = out.length.toLong + 2L * text.length + 64
    if (warcOfMemoBytes.addAndGet(cost) > WarcOfMemoBudget) {
      // flush under a lock: the old lock-free clear()+set(cost) let two
      // threads crossing the budget together each install only their
      // own cost while entries putIfAbsent-ed between the two resets
      // went uncounted — retained bytes could drift above the stated
      // O(budget) invariant (r19 advice). The lock is crossing-rate
      // cold (once per 256 MB of synthesis), never on the hit path.
      warcOfMemo.synchronized {
        if (warcOfMemoBytes.get() > WarcOfMemoBudget) {
          warcOfMemo.clear()
          warcOfMemoBytes.set(0L)
        }
      }
      warcOfMemoBytes.addAndGet(cost) // our own put below stays counted
    }
    warcOfMemo.putIfAbsent(k, out)
    out
  }

  /** The PLAIN (pre-compression) record bytes of the fixture archive —
    * what the frontier derivation parses: the WARC grammar and the HTTP
    * wire decode still run for real, but the even-id gzip wrap+unwrap
    * roundtrip (already gated by x100/x101) is skipped, halving the
    * per-doc cost of the three frontier gates (r17: x109's growth was
    * exactly this synthesis).
    */
  private[graft] def warcRecordsOf(id: Long, text: String): Array[Array[Byte]] = {
    val date = f"2026-01-${id % 28 + 1}%02dT00:00:00Z"
    val uriBase = s"http://site${id % 7}.example"
    val recs = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    recs += record(Seq(
      "WARC-Type" -> "warcinfo",
      "WARC-Record-ID" -> s"<urn:uuid:$id-info>",
      "WARC-Date" -> date,
      "Content-Type" -> "application/warc-fields"),
      s"software: graft\r\nformat: WARC File Format 1.0\r\n".getBytes("UTF-8"))
    val k = (id % 3 + 1).toInt
    (0 until k).foreach { j =>
      val uri = s"$uriBase/$id/$j"
      if (id % 4 == 0)
        recs += record(Seq(
          "WARC-Type" -> "request",
          "WARC-Record-ID" -> s"<urn:uuid:$id-$j-req>",
          "WARC-Date" -> date,
          "WARC-Target-URI" -> uri,
          "Content-Type" -> "application/http; msgtype=request"),
          s"GET /$id/$j HTTP/1.1\r\nHost: site${id % 7}.example\r\nUser-Agent: graft\r\n\r\n"
            .getBytes("UTF-8"))
      val status = if ((id + j) % 5 == 0) 404 else 200
      val reason = if (status == 200) "OK" else "Not Found"
      val html = htmlOf(id, j, text).getBytes("UTF-8")
      // wire form: possibly content-gzipped, possibly chunk-framed —
      // the stored payload is the RAW wire bytes, as real crawlers write
      val chunked = (id + j) % 3 == 1
      val gzipped = (id + j) % 4 == 2
      // br via the engine's own COMPRESSED encoder (greedy LZ + real
      // prefix codes), so the x100/x101 decoded-entity oracles gate the
      // full huffman/command/distance decode path, not just stored
      // framing; system-encoder arbitration (both directions) lives in
      // BrotliSpec
      val brotli = (id + j) % 4 == 0
      val entityWire =
        if (gzipped) gzipOne(html)
        else if (brotli) Brotli.encode(html)
        else html
      val bodyWire = if (chunked) chunkEncode(entityWire, id) else entityWire
      // charset label rotates (bodies are ASCII, so every label decodes
      // identically — the parse path is gate-exercised, non-ASCII
      // decode correctness is spec-pinned with real Latin-1 bytes)
      val cs = ((id + j) % 3) match {
        case 0 => "; charset=utf-8"
        case 1 => ""
        case _ => "; charset=iso-8859-1"
      }
      val http = (s"HTTP/1.1 $status $reason\r\n" +
        s"Content-Type: text/html$cs\r\n" +
        (if (gzipped) "Content-Encoding: gzip\r\n"
         else if (brotli) "Content-Encoding: br\r\n" else "") +
        (if (chunked) "Transfer-Encoding: chunked\r\n"
         else s"Content-Length: ${bodyWire.length}\r\n") +
        "\r\n").getBytes("UTF-8") ++ bodyWire
      recs += record(Seq(
        "WARC-Type" -> "response",
        "WARC-Record-ID" -> s"<urn:uuid:$id-$j>",
        "WARC-Date" -> date,
        "WARC-Target-URI" -> uri,
        "WARC-Payload-Digest" -> s"sha1:FIX${(id * 31 + j) % 97}",
        "Content-Type" -> "application/http; msgtype=response"), http)
    }
    if (id % 3 == 1) {
      // revisit: the Common-Crawl dedup shape — an unchanged re-fetch of
      // response 0 stored as linkage (profile + digest + refers-to) with
      // headers-only HTTP payload; its HTTP Content-Length advertises
      // the ORIGINAL entity, pinning that the WARC Content-Length, not
      // the HTTP header, delimits the stored payload
      val head = ("HTTP/1.1 200 OK\r\n" +
        "Content-Type: text/html; charset=utf-8\r\n" +
        s"Content-Length: ${htmlOf(id, 0, text).getBytes("UTF-8").length}\r\n" +
        "\r\n").getBytes("UTF-8")
      recs += record(Seq(
        "WARC-Type" -> "revisit",
        "WARC-Record-ID" -> s"<urn:uuid:$id-rev>",
        "WARC-Date" -> date,
        "WARC-Target-URI" -> s"$uriBase/$id/0",
        "WARC-Refers-To" -> s"<urn:uuid:$id-0>",
        "WARC-Profile" ->
          "http://netpreserve.org/warc/1.1/revisit/identical-payload-digest",
        "WARC-Payload-Digest" -> s"sha1:FIX${(id * 31) % 97}",
        "Content-Type" -> "application/http; msgtype=response"), head)
    }
    recs.toArray
  }

  def synthesizeWarc(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .repartition(spark.sparkContext.defaultParallelism)
      .map { case (id, text) =>
        graft.operators.Multimodal.ImageRow(id, warcOf(id, text)) }
      .toDF()
  }

  /** x100 gate: container facts per archive. body_bytes counts the
    * DECODED entity (chunk framing removed, content codings inflated),
    * so the fixture's chunked/gzipped wire forms hash identically to
    * the plain ones — which is the decode-correctness check. Revisit
    * facts pin the dedup-linkage parse (count + the digest a bridge
    * resolves against).
    */
  def warcTable(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("doc_id"), col("content")).as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        val f = parseWarc(bytes)
        val resp = f.records.filter(_.warcType == "response")
        val rev = f.records.filter(_.warcType == "revisit")
        (id, if (f.gzip) 1 else 0, f.nMembers, f.records.size, resp.size,
          f.records.count(_.warcType == "request"),
          resp.count(_.httpStatus == 200),
          resp.map(_.httpStatus.toLong).sum,
          resp.map(_.bodyBytes).sum,
          rev.size, rev.map(_.payloadDigest).sorted.mkString(","))
      }
      .toDF("doc_id", "is_gzip", "n_members", "n_records", "n_responses",
        "n_requests", "ok_cnt", "sum_status", "body_bytes",
        "n_revisit", "revisit_digest")
  }

  /** Revisit-resolution arm: one row per `WARC-Type: revisit` record
    * under a glob — (file, uri, refers_to, digest, profile). Common
    * Crawl's dedup stores an unchanged re-fetch as this linkage instead
    * of the payload; joining `digest` against the responses'
    * `WARC-Payload-Digest` resolves the duplicate to its original
    * capture WITHOUT refetching, so a corpus bridge can count/attribute
    * revisits while ingesting each page's bytes exactly once. Same
    * streaming discipline as [[warcFiles]]: one task per file,
    * record-at-a-time, lenient poison row (uri NULL) on container
    * damage.
    */
  def warcRevisits(spark: SparkSession, glob: String,
                   lenient: Boolean = true): DataFrame = {
    import spark.implicits._
    val conf = new Shims.SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
    spark.sparkContext.binaryFiles(glob).keys
      .flatMap { path =>
        StreamUtil.fileRows(path, conf.value, lenient,
          (path, null, null, null, null, null, null, -1), in =>
            new WarcIterator(in, lenientHttp = lenient)
              .filter(_.warcType == "revisit")
              .map(r => (path, r.targetUri, r.refersTo, r.payloadDigest,
                r.revisitProfile, r.refersToUri, r.refersToDate,
                // the revisit's OWN recorded status (its headers-only
                // HTTP head) — a soft-404 duplicate must not resurface
                // as its 200 original's status downstream
                r.httpStatus)))
      }
      .toDF("file", "uri", "refers_to", "digest", "profile",
        "refers_to_uri", "refers_to_date", "status")
  }

  /** x101 gate: end-to-end extracted text of each archive's first
    * response (the one embedding the document's text).
    */
  def warcTextTable(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("doc_id"), col("content")).as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        val first = parseWarc(bytes).records
          .find(_.warcType == "response")
          .getOrElse(sys.error(s"warc: no response record in doc $id"))
        (id, htmlText(first.body))
      }
      .toDF("doc_id", "extracted")
  }

  /** One response record → output row. In `lenient` mode a page whose
    * HTML the scanner rejects (real crawls are full of malformed markup)
    * yields a NULL text instead of killing the task — the row survives
    * with its uri/status so the failure is countable downstream; strict
    * mode keeps the loud reject for curated corpora. Container-level
    * corruption (gzip CRC, WARC grammar) always fails the file loudly —
    * that is damage, not mess.
    */
  private[graft] def extractRow(path: String, r: WarcRecord, lenient: Boolean,
                                mainContent: Boolean = false)
      : (String, String, Int, String, String) = {
    // mainContent = the x106 link-density extractor (boilerplate blocks
    // dropped); default = the full x101 tag strip
    def extract(html: String): String =
      if (mainContent) mainText(html) else htmlText(html)
    var degraded = r.degraded
    val text =
      if (r.body == null) null // binary or (lenient) degraded payload
      else if (!lenient) extract(r.body)
      else try extract(r.body) catch {
        case _: IllegalArgumentException => degraded = "damage:html"; null
      }
    (path, r.targetUri, r.httpStatus, text, degraded)
  }

  /** Lazy row iterator over ONE archive, shared by [[warcFiles]] and
    * `StreamingAnalytics.warcIngest`: WARC walk → response filter → HTML
    * extraction, O(largest record) memory. Under `lenient`, container
    * damage (gzip CRC, WARC grammar, an empty or vanished file)
    * terminates the FILE with one poison row (uri NULL, status -1)
    * instead of the task — one poison archive in a million can neither
    * kill a batch job nor permanently wedge a streaming micro-batch that
    * would otherwise refail on every retry. The WarcIterator constructor
    * itself sniffs the stream, so it runs inside the same guard.
    */
  private[graft] def responseRows(path: String, conf: org.apache.hadoop.conf.Configuration,
                                  lenient: Boolean, mainContent: Boolean)
      : Iterator[(String, String, Int, String, String)] =
    StreamUtil.fileRows(path, conf, lenient, (path, null, -1, null, "damage:container"), in =>
      new WarcIterator(in, lenientHttp = lenient)
        .filter(_.warcType == "response")
        .map(r => extractRow(path, r, lenient, mainContent)))

  /** Crawl → corpus bridge: extracted 200-status pages in the documents
    * table's shape (doc_id, text, lang, source, n_chars), so
    * corpus-prep / prepare-run consume a crawl unchanged. doc_id is the
    * URI hash (stable across re-fetches — identical URIs collapse here;
    * NEAR-dups are downstream dedup's job), source is the host, lang is
    * the char-trigram naive-Bayes scorer ([[graft.functions.LangId]] —
    * the d5 gate's model; a narrow per-row map, the profile rides the
    * closure).
    */
  def crawlDocs(spark: SparkSession, glob: String,
                lenient: Boolean = true,
                mainContent: Boolean = false): DataFrame =
    crawlDocsFrom(spark, warcFiles(spark, glob, lenient, mainContent))

  /** Corpus bridge over DEDUP-WRITTEN (CC-shaped) archives: the
    * [[crawlDocs]] admission PLUS revisit reconstitution — every
    * `revisit` record's page lands under its OWN URI with the
    * original capture's extracted text, so a digest-deduped crawl
    * reads as if every capture were stored full (without this, half
    * of a real CC crawl's pages silently vanish from the corpus).
    * Composition of the x125 production pieces: `warc-index` over the
    * glob (wave-nested layouts keep qualified paths via `relativeTo`),
    * revisit linkage from [[warcRevisits]], digest-joined pointer
    * fetches in [[CdxSource.resolveRevisits]] — pointer-sized
    * exchanges only, archive bytes never shuffle, fetches cost one
    * member each.
    */
  def crawlDocsResolved(spark: SparkSession, warcDir: String, glob: String,
                        lenient: Boolean = true): DataFrame = {
    val full = warcFiles(spark, glob, lenient)
      .filter(col("status") === 200 && col("text").isNotNull &&
        length(col("text")) > 0)
      .select(col("uri"), col("text"))
    val resolved = CdxSource.resolveRevisits(spark, warcDir,
        // admission uses the REVISIT's own recorded status — a
        // soft-404 duplicate of a 200 page must stay out of the
        // corpus exactly as its full capture would have (r19 review);
        // the inner filter then re-checks the ORIGINAL's fetch status
        warcRevisits(spark, glob, lenient)
          .filter(col("uri").isNotNull && col("status") === 200),
        CdxSource.warcIndexFiles(spark, glob, lenient,
          relativeTo = warcDir))
      .filter(col("status") === 200 && col("text").isNotNull &&
        length(col("text")) > 0)
      .select(col("revisit_uri").as("uri"), col("text"))
    docsShape(spark, full.unionByName(resolved))
  }

  /** The admission + shaping half of [[crawlDocs]] over an ALREADY
    * BUILT pages frame — callers that also need the degrade accounting
    * persist one `warcFiles` frame and feed it here instead of walking
    * every archive twice (r18 review: the CLI's report re-decoded the
    * whole glob).
    */
  def crawlDocsFrom(spark: SparkSession, pages: DataFrame): DataFrame =
    docsShape(spark,
      pages
        .filter(col("status") === 200 && col("text").isNotNull &&
          length(col("text")) > 0)
        .select(col("uri"), col("text")))

  /** THE (uri, text) → documents-table derivation shared by the two
    * corpus bridges (crawlDocs, wetDocs): trigram language id, URI-hash
    * doc_id (stable across re-fetches), lower-cased host as source —
    * one definition so the bridges cannot drift (the fixtureFrontier
    * discipline).
    */
  private[graft] def docsShape(spark: SparkSession, pages: DataFrame): DataFrame = {
    import spark.implicits._
    pages.as[(String, String)]
      // script-routed: Latin pages hit the d5 trigram model, Cyrillic
      // pages the d58 family, unmodeled scripts land und — identical to
      // plain predict on a Latin corpus, honest on a real crawl mix
      .map { case (uri, text) =>
        (uri, text, graft.functions.LangId.route(text)) }
      .toDF("uri", "text", "lang")
      .withColumn("doc_id", pmod(xxhash64(col("uri")), lit(Long.MaxValue)))
      // schemes are case-insensitive per RFC 3986; normalize the host
      .withColumn("source",
        lower(regexp_extract(col("uri"), "(?i)^[a-z]+://([^/]+)", 1)))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
      .dropDuplicates("doc_id")
  }

  // ---------------------------------------------------------------- wet

  // WET fixture arithmetic (the DuckDB oracle re-derives everything):
  //   k = id%3+1 conversion records; record j's URI is
  //   http://site{id%7}.example/{id}/{j} and its text/plain payload is
  //   the doc text at j==0, else "wet {id} {j} extracted text"; gzip
  //   member-per-record on even ids (the Common Crawl layout), plain
  //   otherwise — one warcinfo record leads either way.
  private[graft] def wetOf(id: Long, text: String): Array[Byte] = {
    val date = f"2026-02-${id % 28 + 1}%02dT00:00:00Z"
    val recs = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    recs += record(Seq(
      "WARC-Type" -> "warcinfo",
      "WARC-Record-ID" -> s"<urn:uuid:$id-wetinfo>",
      "WARC-Date" -> date,
      "Content-Type" -> "application/warc-fields"),
      "software: graft-wet\r\nextractedFrom: fixture\r\n".getBytes("UTF-8"))
    val k = (id % 3 + 1).toInt
    (0 until k).foreach { j =>
      val payload = (if (j == 0) text else s"wet $id $j extracted text")
        .getBytes("UTF-8")
      recs += record(Seq(
        "WARC-Type" -> "conversion",
        "WARC-Record-ID" -> s"<urn:uuid:$id-$j-wet>",
        "WARC-Refers-To" -> s"<urn:uuid:$id-$j>",
        "WARC-Date" -> date,
        "WARC-Target-URI" -> s"http://site${id % 7}.example/$id/$j",
        "Content-Type" -> "text/plain"), payload)
    }
    if (id % 2 == 0) recs.toArray.flatMap(gzipOne) else recs.toArray.flatten
  }

  def synthesizeWet(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .repartition(spark.sparkContext.defaultParallelism)
      .map { case (id, text) =>
        graft.operators.Multimodal.ImageRow(id, wetOf(id, text)) }
      .toDF()
  }

  /** x117 gate: WET facts per archive — conversion records carry the
    * extracted text AS the payload (no HTTP, no HTML), which is what
    * most Common-Crawl-based corpora actually ingest.
    */
  def wetTable(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("doc_id"), col("content")).as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        val f = parseWarc(bytes)
        val conv = f.records.filter(_.warcType == "conversion")
        val first = conv.headOption.getOrElse(
          sys.error(s"wet: no conversion record in doc $id"))
        (id, if (f.gzip) 1 else 0, f.records.size, conv.size,
          conv.map(_.bodyBytes).sum, first.targetUri, first.body)
      }
      .toDF("doc_id", "is_gzip", "n_records", "n_conversion",
        "body_bytes", "first_uri", "first_text")
  }

  /** WET record arm: one row per `conversion` record under a glob —
    * (file, uri, text) — the wetDocs sibling of [[warcFiles]]. Under
    * `lenient`, container damage terminates the FILE with one
    * countable poison row (uri NULL) exactly like warcFiles; this
    * layer is where a pipeline counts degraded archives before the
    * corpus bridge filters them (r16 advice: the old wetDocs filtered
    * its own poison row away, so a damaged WET archive was silently
    * invisible).
    */
  def wetRecords(spark: SparkSession, glob: String,
                 lenient: Boolean = true): DataFrame = {
    import spark.implicits._
    val conf = new Shims.SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
    spark.sparkContext.binaryFiles(glob).keys
      .flatMap { path =>
        StreamUtil.fileRows(path, conf.value, lenient, (path, null, null), in =>
          new WarcIterator(in, lenientHttp = lenient)
            .filter(r => r.warcType == "conversion" && r.body != null)
            .map(r => (path, r.targetUri, r.body)))
      }
      .toDF("file", "uri", "text")
  }

  /** WET → corpus bridge: conversion records under a glob land directly
    * in the documents-table shape (the crawlDocs sibling without the
    * HTML extraction stage — WET text is already extracted). Same
    * streaming discipline: one task per file, record-at-a-time. The
    * poison accounting lives in [[wetRecords]] (uri-NULL rows) — this
    * bridge drops degraded rows like crawlDocs drops non-200 pages;
    * count them at the record layer.
    */
  def wetDocs(spark: SparkSession, glob: String,
              lenient: Boolean = true): DataFrame =
    docsShape(spark,
      wetRecords(spark, glob, lenient)
        .filter(col("uri").isNotNull && col("text").isNotNull &&
          length(col("text")) > 0)
        .select(col("uri"), col("text")))

  // ---------------------------------------------------------- wet write

  /** One WET `conversion` record's bytes for a corpus doc. The URI is
    * reconstructed from (source, doc_id) in the http form [[docsShape]]
    * parses back, so export → re-ingest preserves source attribution;
    * `date` is caller-supplied (a corpus export is a point-in-time
    * artifact — the caller stamps it, determinism keeps gates hashable).
    */
  private[graft] def wetRecordOf(id: Long, source: String, text: String,
                                 date: String): Array[Byte] = {
    // the URI rides a CRLF-framed ISO-8859-1 header line: whitespace or
    // non-ASCII in the host would silently corrupt the record — loud
    // beats mangled (RFC 3986 hosts are ASCII; punycode IDNs upstream)
    require(source.forall(c => c > 0x20 && c < 0x7f),
      s"wet-write: non-ASCII or whitespace in source host '$source'")
    record(Seq(
      "WARC-Type" -> "conversion",
      "WARC-Record-ID" -> s"<urn:graft:wet:$id>",
      "WARC-Date" -> date,
      "WARC-Target-URI" ->
        s"http://${if (source.nonEmpty) source else "unknown.invalid"}/graft/$id",
      "Content-Type" -> "text/plain"), text.getBytes("UTF-8"))
  }

  private[graft] def wetInfoOf(shard: Long, date: String): Array[Byte] =
    record(Seq(
      "WARC-Type" -> "warcinfo",
      "WARC-Record-ID" -> s"<urn:graft:wetinfo:$shard>",
      "WARC-Date" -> date,
      "Content-Type" -> "application/warc-fields"),
      "software: graft-wet-writer\r\nformat: WARC File Format 1.0\r\n"
        .getBytes("UTF-8"))

  /** WET EXPORT — the WRITE side of the Common Crawl text surface (the
    * engine already reads, indexes, and fetches these archives; this
    * closes the interchange loop so a curated corpus ships in the format
    * every CC consumer ingests). Shards the corpus by `pmod(doc_id, n)`
    * into `part-NNNNN.warc.wet[.gz]`: a warcinfo lead then one
    * `conversion` record per doc in doc_id order, gzip MEMBER-PER-RECORD
    * (the ISO 28500 layout that makes any reader — [[wetDocs]] included —
    * stream record-at-a-time instead of holding a shard).
    *
    * 100 TB shape: one task per shard (the one repartition in the plan),
    * the writer streams record by record — O(record) memory, never the
    * shard; commit is write-to-tmp + first-wins rename through
    * [[graft.operators.ShardSink]] (a retried task cannot tear a shard).
    * Returns docs written.
    */
  def writeWet(docs: DataFrame, outDir: String, nShards: Int,
               gzip: Boolean = true,
               date: String = "2026-01-01T00:00:00Z"): Long = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(nShards > 0, "wet-write: nShards must be positive")
    val n = nShards.toLong
    val g = gzip
    val d = date
    val rows = docs
      .select(col("doc_id").cast("long"), col("source").cast("string"),
        col("text").cast("string"))
      .as[(Long, String, String)]
      .map { case (id, source, text) =>
        // null text coalesces to "" like null source — a corpus row
        // with no text still gets its (empty) conversion record instead
        // of a raw NPE out of the export job (r18 ADVICE)
        val rec = wetRecordOf(id, if (source == null) "" else source,
          if (text == null) "" else text, d)
        (java.lang.Math.floorMod(id, n), id, if (g) gzipOne(rec) else rec)
      }
    writeArchiveShards(rows, outDir,
      if (gzip) ".warc.wet.gz" else ".warc.wet",
      shard => { val i = wetInfoOf(shard, d); if (g) gzipOne(i) else i })
  }

  /** The sharded-archive layout [[writeWet]] and [[writeWarc]] share:
    * `rows` = (shard, sort key, record bytes ALREADY in on-disk form —
    * pre-wrapped gzip members travel the one exchange compressed), one
    * task per shard streams them into `part-NNNNN<ext>` through the
    * first-wins [[graft.operators.ShardSink]] commit (a retried task
    * cannot tear a shard, a lost race deletes its tmp). `lead(shard)`
    * opens each archive (the warcinfo record). Returns records written
    * (leads excluded).
    */
  private def writeArchiveShards(
      rows: org.apache.spark.sql.Dataset[(Long, Long, Array[Byte])],
      outDir: String, ext: String, lead: Long => Array[Byte]): Long = {
    val spark = rows.sparkSession
    import spark.implicits._
    val sorted = rows.toDF("shard", "skey", "rec")
      .repartition(col("shard"))
      // the record bytes as the TERTIARY sort key: two rows whose skey
      // collides (uri.hashCode in writeWarc) would otherwise order
      // nondeterministically across task retries, and on a local FS a
      // reordered replay can replace a shard's bytes — full-row
      // ordering makes shard bytes deterministic (r18 ADVICE)
      .sortWithinPartitions(col("shard"), col("skey"), col("rec"))
      .as[(Long, Long, Array[Byte])]
    graft.operators.ShardSink.write(sorted, gzip = false, maxOpen = 1)(_._1)(
      dest = shard => f"$outDir/part-$shard%05d$ext",
      bytes = _._3,
      lead = (shard, _) => lead(shard))
      // per-file counts are a handful of longs; collect().sum
      // (unlike reduce) survives an empty input relation, whose
      // optimized plan can have zero partitions
      .map(_.records).collect().sum
  }

  // --------------------------------------------------------- warc write

  /** RFC 4648 base32 (no padding) — SHA-1's 160 bits are exactly 32
    * chars, the `sha1:BASE32` form Common Crawl writes in
    * WARC-Payload-Digest and CDX digests.
    */
  private[graft] def base32(bytes: Array[Byte]): String = {
    val tab = "ABCDEFGHIJKLMNOPQRSTUVWXYZ234567"
    val sb = new java.lang.StringBuilder((bytes.length * 8 + 4) / 5)
    var acc = 0L
    var bits = 0
    bytes.foreach { b =>
      acc = (acc << 8) | (b & 0xff)
      bits += 8
      while (bits >= 5) {
        bits -= 5
        sb.append(tab(((acc >> bits) & 31).toInt))
      }
    }
    if (bits > 0) sb.append(tab(((acc << (5 - bits)) & 31).toInt))
    sb.toString
  }

  /** `sha1:BASE32(SHA-1(body))` — a REAL payload digest, so archives
    * the engine writes participate in digest-keyed machinery (revisit
    * resolution, CDX dedup) like any crawler's output.
    */
  private[graft] def payloadDigestOf(body: Array[Byte]): String =
    "sha1:" + base32(
      java.security.MessageDigest.getInstance("SHA-1").digest(body))

  private val ReasonOf = Map(200 -> "OK", 301 -> "Moved Permanently",
    302 -> "Found", 304 -> "Not Modified", 403 -> "Forbidden",
    404 -> "Not Found", 500 -> "Internal Server Error")

  /** One WARC `response` record wrapping an HTTP message around the
    * stored body — identity coding, explicit Content-Length (the
    * straightforward wire form; chunked/compressed wire forms are a
    * CRAWLER artifact of capture, not something an exporter should
    * fabricate).
    */
  private[graft] def warcResponseOf(uri: String, status: Int,
                                    contentType: String, body: Array[Byte],
                                    date: String,
                                    digest0: String = null): Array[Byte] = {
    // RFC 3986 URIs are ASCII by definition; whitespace/control or
    // non-ASCII here would silently corrupt the CRLF-framed header
    // (percent-encode upstream) — loud beats mangled
    require(uri.nonEmpty && uri.forall(c => c > 0x20 && c < 0x7f),
      s"warc-write: URI must be non-empty printable ASCII: '$uri'")
    // a CR/LF inside the media type would TEAR the HTTP header block
    // (header injection); spaces are legal in parameters
    require(contentType.forall(c => c >= 0x20 && c < 0x7f),
      s"warc-write: control or non-ASCII byte in content type '$contentType'")
    val http = (s"HTTP/1.1 $status ${ReasonOf.getOrElse(status, "Status")}\r\n" +
      s"Content-Type: $contentType\r\n" +
      s"Content-Length: ${body.length}\r\n\r\n").getBytes("ISO-8859-1") ++ body
    record(Seq(
      "WARC-Type" -> "response",
      "WARC-Record-ID" -> s"<${responseIdOf(uri, date)}>",
      "WARC-Date" -> date,
      "WARC-Target-URI" -> uri,
      "WARC-Payload-Digest" ->
        (if (digest0 != null) digest0 else payloadDigestOf(body)),
      "Content-Type" -> "application/http; msgtype=response"), http)
  }

  private[graft] def warcInfoOf(shard: Long, date: String): Array[Byte] =
    record(Seq(
      "WARC-Type" -> "warcinfo",
      "WARC-Record-ID" -> s"<urn:graft:warcinfo:$shard>",
      "WARC-Date" -> date,
      "Content-Type" -> "application/warc-fields"),
      "software: graft-warc-writer\r\nformat: WARC File Format 1.0\r\n"
        .getBytes("UTF-8"))

  /** The response record id [[warcResponseOf]] stamps — shared so the
    * request record's `WARC-Concurrent-To` cannot drift from it.
    */
  private[graft] def responseIdOf(uri: String, date: String): String =
    s"urn:graft:warc:${java.util.UUID.nameUUIDFromBytes((uri + "\n" + date).getBytes("UTF-8"))}"

  /** Record id of the revisit record for (uri, date) — the "revisit"
    * salt keeps it distinct from the response id so a URI that appears
    * both as a full response (in one archive set) and a revisit (in a
    * deduped one) never collides. [[warcMemberOf]] needs it to point a
    * paired request's `WARC-Concurrent-To` at the record that actually
    * exists (r19 advice: dedup+requests previously dangled at the
    * never-written response id).
    */
  private[graft] def revisitIdOf(uri: String, date: String): String =
    s"urn:graft:warc:${java.util.UUID.nameUUIDFromBytes((uri + "\n" + date + "\nrevisit").getBytes("UTF-8"))}"

  /** One WARC `revisit` record — the write side of the Common Crawl
    * dedup shape (x125 reads and resolves these; with this the
    * engine's own archives carry them): linkage only, no body — an
    * HTTP headers-only payload whose Content-Length advertises the
    * ORIGINAL entity (pinning that the WARC Content-Length, not the
    * HTTP header, delimits the stored payload), the
    * identical-payload-digest profile, the shared digest, and the
    * original's target URI + date (WARC 1.1 §5.11–5.12 — the fields
    * [[CdxSource.resolveRevisits]] joins on). Reference seam: the same
    * content-identity idempotency the reference records as ingest tags
    * (KustoPreForgeLib/Text/TextKustoSink.cs:48-51, IngestIfNotExists).
    */
  private[graft] def warcRevisitOf(uri: String, status: Int,
                                   contentType: String,
                                   refersToUri: String, digest: String,
                                   entityLen: Long, date: String)
      : Array[Byte] = {
    require(uri.nonEmpty && uri.forall(c => c > 0x20 && c < 0x7f),
      s"warc-write: URI must be non-empty printable ASCII: '$uri'")
    require(refersToUri.nonEmpty &&
      refersToUri.forall(c => c > 0x20 && c < 0x7f),
      s"warc-write: refers-to URI must be printable ASCII: '$refersToUri'")
    require(contentType.forall(c => c >= 0x20 && c < 0x7f),
      s"warc-write: control or non-ASCII byte in content type '$contentType'")
    // the revisit's head records ITS capture's status — digest dedup
    // groups a soft-404 with a 200 twin, and a hardcoded 200 here
    // would rewrite the recorded fact (r19 review)
    val head = (s"HTTP/1.1 $status ${ReasonOf.getOrElse(status, "Status")}\r\n" +
      s"Content-Type: $contentType\r\n" +
      s"Content-Length: $entityLen\r\n\r\n").getBytes("ISO-8859-1")
    record(Seq(
      "WARC-Type" -> "revisit",
      "WARC-Record-ID" -> s"<${revisitIdOf(uri, date)}>",
      "WARC-Date" -> date,
      "WARC-Target-URI" -> uri,
      "WARC-Refers-To-Target-URI" -> refersToUri,
      "WARC-Refers-To-Date" -> date,
      "WARC-Profile" ->
        "http://netpreserve.org/warc/1.1/revisit/identical-payload-digest",
      "WARC-Payload-Digest" -> digest,
      "Content-Type" -> "application/http; msgtype=response"), head)
  }

  /** One WARC `request` record paired to its response by
    * `WARC-Concurrent-To` (WARC 1.1 §5.7) — real CC archives
    * interleave these with responses; the flagged writer mode emits
    * them so written archives carry the full capture conversation.
    */
  private[graft] def warcRequestOf(uri: String, date: String,
                                   concurrentTo: String = null)
      : Array[Byte] = {
    require(uri.nonEmpty && uri.forall(c => c > 0x20 && c < 0x7f),
      s"warc-write: URI must be non-empty printable ASCII: '$uri'")
    // RFC 7230 origin-form request target: path + query of the URI —
    // the FRAGMENT never reaches the server, so strip it BEFORE
    // matching (a whole-string match on a fragment-bearing URI would
    // otherwise reject a perfectly good http(s) page, r19 review)
    val noFrag = uri.indexOf('#') match {
      case -1 => uri
      case h => uri.substring(0, h)
    }
    val m = "(?i)^https?://[^/?#]+([^#]*)".r
    val target = noFrag match {
      case m(rest) if rest.nonEmpty => rest
      case m(_) => "/"
      case _ => sys.error(s"warc-write: non-http(s) request URI '$uri'")
    }
    val host = noFrag.replaceFirst("(?i)^https?://", "")
      .takeWhile(c => c != '/' && c != '?' && c != '#')
    val http = (s"GET $target HTTP/1.1\r\n" +
      s"Host: $host\r\nUser-Agent: graft\r\n\r\n").getBytes("ISO-8859-1")
    record(Seq(
      "WARC-Type" -> "request",
      "WARC-Record-ID" ->
        s"<urn:graft:warc:${java.util.UUID.nameUUIDFromBytes((uri + "\n" + date + "\nrequest").getBytes("UTF-8"))}>",
      "WARC-Date" -> date,
      "WARC-Target-URI" -> uri,
      // point at the member that ACTUALLY sits next to this request —
      // under dedup the main member is a revisit whose id carries the
      // "revisit" salt, and the response id exists nowhere in the set
      // (r19 advice, medium)
      "WARC-Concurrent-To" ->
        s"<${if (concurrentTo != null) concurrentTo else responseIdOf(uri, date)}>",
      "Content-Type" -> "application/http; msgtype=request"), http)
  }

  /** WARC EXPORT — response-record archives from page rows
    * (`uri`, `status`, `content_type`, `body` binary): the full-fidelity
    * sibling of [[writeWet]], closing the crawl loop END TO END on real
    * files — archives the engine writes are indexable by `warc-index`
    * (x122), point-fetchable through the index (x119), and
    * revisit-resolvable (real SHA-1 payload digests). Sharded by URI
    * hash, warcinfo lead, gzip member-per-record (the layout CDX
    * generation REQUIRES), same exactly-once commit as [[writeWet]].
    * Returns pages written.
    */
  def writeWarc(pages: DataFrame, outDir: String, nShards: Int,
                gzip: Boolean = true,
                date: String = "2026-01-01T00:00:00Z",
                dedupDigests: Boolean = false,
                requests: Boolean = false): Long = {
    val spark = pages.sparkSession
    import spark.implicits._
    require(nShards > 0, "warc-write: nShards must be positive")
    val n = nShards.toLong
    val g = gzip
    val d = date
    val req = requests
    val src = pages
      .select(col("uri").cast("string"), col("status").cast("int"),
        col("content_type").cast("string"), col("body"))
      .as[(String, Int, String, Array[Byte])]
    val rows =
      if (!dedupDigests)
        src.map { case (uri, status, ct, body) =>
          // String.hashCode is spec-fixed across JVMs — deterministic
          // shard assignment without a jar-local hash
          (java.lang.Math.floorMod(uri.hashCode.toLong, n),
            uri.hashCode.toLong,
            warcMemberOf(uri, status, ct, body, null, g, req, d))
        }
      else {
        // CC-shaped digest dedup: the canonical original per payload
        // digest is the MIN URI (deterministic at any parallelism) —
        // it writes the full response, every other URI writes a
        // revisit. Plan: digests compute map-side; the winner pick is
        // one map-side-combinable (digest → min uri) agg of
        // pointer-sized rows; the page join against it is 1:1 per
        // digest (no fan-out — a hot boilerplate digest inflates one
        // partition's row count, which AQE skew-split handles, never a
        // row blow-up). Bodies cross the digest exchange once,
        // uncompressed (the winner decision must precede record
        // building); the built members then ride the shard exchange
        // compressed as in the plain path.
        val withDigest = src
          .map { case (uri, status, ct, body) =>
            (uri, status, ct, body,
              payloadDigestOf(if (body == null) Array.emptyByteArray
                              else body))
          }
          .toDF("uri", "status", "ct", "body", "digest")
        val winners = withDigest.groupBy("digest")
          .agg(org.apache.spark.sql.functions.min(col("uri")).as("orig"))
        decidedRows(withDigest.join(winners, Seq("digest"))
          .select(col("uri"), col("status"), col("ct").as("content_type"),
            col("body"), col("orig"), col("digest")), n, g, req, d)
      }
    writeArchiveShards(rows, outDir, if (gzip) ".warc.gz" else ".warc",
      shard => { val i = warcInfoOf(shard, d); if (g) gzipOne(i) else i })
  }

  /** (shard, sortkey, member bytes) rows from DECIDED pages — the
    * original per digest is already picked (`orig`; equal-to-uri or
    * null ⇒ full response, else revisit). Shared by [[writeWarc]]'s
    * dedup branch and [[writeWarcDecided]].
    */
  private def decidedRows(decided: DataFrame, n: Long, g: Boolean,
                          req: Boolean, d: String)
      : org.apache.spark.sql.Dataset[(Long, Long, Array[Byte])] = {
    val spark = decided.sparkSession
    import spark.implicits._
    decided
      .select(col("uri").cast("string"), col("status").cast("int"),
        col("content_type").cast("string"), col("body"),
        col("orig").cast("string"), col("digest").cast("string"))
      .as[(String, Int, String, Array[Byte], String, String)]
      .map { case (uri, status, ct, body, orig, digest) =>
        (java.lang.Math.floorMod(uri.hashCode.toLong, n),
          uri.hashCode.toLong,
          warcMemberOf(uri, status, ct, body, orig, g, req, d, digest))
      }
  }

  /** The decided-pages arm of [[writeWarc]] — pages arrive with their
    * per-digest original ALREADY picked (`uri, status, content_type,
    * body, orig, digest`), so a caller holding cross-batch dedup state
    * (the streaming export's persisted digest index) can route repeats
    * at originals chosen in EARLIER waves; the precomputed digest rides
    * along so the record builders never re-hash the bodies. Same
    * sharding, member layout, and first-wins commit as writeWarc.
    */
  private[graft] def writeWarcDecided(decided: DataFrame, outDir: String,
                                      nShards: Int, gzip: Boolean = true,
                                      date: String = "2026-01-01T00:00:00Z")
      : Long = {
    require(nShards > 0, "warc-write: nShards must be positive")
    writeArchiveShards(
      decidedRows(decided, nShards.toLong, gzip, req = false, date),
      outDir, if (gzip) ".warc.gz" else ".warc",
      shard => {
        val i = warcInfoOf(shard, date)
        if (gzip) gzipOne(i) else i
      })
  }

  /** One page → its on-disk member bytes: [request +] response, or a
    * revisit pointing at `orig` when this body's digest already wrote
    * its full record elsewhere. Request+response share ONE row so the
    * pair stays adjacent in the shard (WARC-Concurrent-To linkage).
    * Object-level (not a writeWarc local) so the writer lambdas stay
    * capture-free — a local def would drag the non-serializable module
    * instance into the task closure.
    */
  private[graft] def warcMemberOf(uri: String, status: Int, ct0: String,
                                  body0: Array[Byte], orig: String,
                                  g: Boolean, req: Boolean, d: String,
                                  digest0: String = null)
      : Array[Byte] = {
    val ct = if (ct0 == null) "application/octet-stream" else ct0
    val body = if (body0 == null) Array.emptyByteArray else body0
    // the dedup callers computed the digest upstream (the winner pick
    // keyed on it) — reuse it instead of a second SHA-1 pass over
    // nearly the whole body volume (r19 review)
    lazy val digest =
      if (digest0 != null) digest0 else payloadDigestOf(body)
    val isRevisit = orig != null && orig != uri
    val main =
      if (isRevisit)
        warcRevisitOf(uri, status, ct, orig, digest,
          body.length.toLong, d)
      else warcResponseOf(uri, status, ct, body, d, digest)
    val wrapped = if (g) gzipOne(main) else main
    if (!req) wrapped
    else {
      // Concurrent-To must name the adjacent member's real id: the
      // revisit id under dedup, the response id otherwise (r19 advice)
      val r = warcRequestOf(uri, d,
        if (isRevisit) revisitIdOf(uri, d) else responseIdOf(uri, d))
      (if (g) gzipOne(r) else r) ++ wrapped
    }
  }

  /** File-path arm: parse `.warc`/`.warc.gz` files under a glob and emit
    * one row per response record with its extracted text — the CLI's
    * ingestion entry. One task per file; inside a task [[responseRows]]
    * streams the file through [[WarcIterator]] member by member —
    * O(largest record) memory, never the whole file (whole-file
    * materialization × 32 concurrent tasks is an OOM at the ~1 GB
    * Common-Crawl archive shape).
    */
  def warcFiles(spark: SparkSession, glob: String,
                lenient: Boolean = false,
                mainContent: Boolean = false): DataFrame = {
    import spark.implicits._
    val conf = new Shims.SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
    spark.sparkContext.binaryFiles(glob).keys
      .flatMap(responseRows(_, conf.value, lenient, mainContent))
      .toDF("file", "uri", "status", "text", "degraded")
  }
}

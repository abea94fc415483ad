package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Shims

/** WAT metadata archives — the FOURTH and final Common Crawl artifact
  * (WARC x100 fetches, WET x117 text, CDX x119 index): each crawl
  * ships `.warc.wat.gz` files whose `metadata` records carry a nested
  * JSON envelope per capture — parsed headers, HTML link graph, page
  * title — the cheap substrate for link-graph and anchor-text work
  * without touching page bytes.
  *
  * [[Jsons]] is an own strict recursive-descent JSON reader (objects,
  * arrays, strings with the full escape set, lexically-preserved
  * numbers, true/false/null; depth-capped against stack bombs;
  * trailing garbage rejects). Numbers stay STRINGS — WAT numbers are
  * offsets and counts a consumer casts knowingly; silent double
  * round-trips are how 2^53+1 corrupts. Interop is arbitered against
  * python's json in BOTH directions (WatSpec).
  *
  * 100 TB shape: one task per `.wat.gz`, record-at-a-time through the
  * same [[WarcIterator]] streaming walk as WARC/WET; the JSON parse is
  * a narrow per-record kernel over KB-sized envelopes.
  */
object WatSource {

  // ------------------------------------------------------------- json

  sealed trait JValue
  case class JObj(fields: Vector[(String, JValue)]) extends JValue {
    /** LAST occurrence wins on duplicate keys — matching python's dict
      * semantics so the arbiter and this reader can never disagree on
      * a hostile duplicate-key envelope.
      */
    def get(k: String): Option[JValue] = fields.reverseIterator.collectFirst {
      case (`k`, v) => v
    }
    /** Path lookup: `obj / "a" / "b"` — None anywhere along the way. */
    def /(k: String): Option[JValue] = get(k)
  }
  case class JArr(items: Vector[JValue]) extends JValue
  case class JStr(value: String) extends JValue
  /** Lexical — the consumer casts knowingly. */
  case class JNum(literal: String) extends JValue
  case class JBool(value: Boolean) extends JValue
  case object JNull extends JValue

  object Jsons {
    private val MaxDepth = 64

    def parse(s: String): JValue = {
      val p = new P(s)
      p.ws()
      val v = p.value(0)
      p.ws()
      require(p.i == s.length, "json: bytes after top-level value")
      v
    }

    /** Descend an object path; None if any hop is missing/non-object. */
    def path(v: JValue, keys: String*): Option[JValue] =
      keys.foldLeft(Option(v)) {
        case (Some(o: JObj), k) => o.get(k)
        case _ => None
      }

    private final class P(s: String) {
      var i = 0
      def ws(): Unit = {
        while (i < s.length && (s.charAt(i) == ' ' || s.charAt(i) == '\n' ||
          s.charAt(i) == '\r' || s.charAt(i) == '\t')) i += 1
      }
      private def fail(msg: String): Nothing =
        throw new IllegalArgumentException(s"json: $msg at $i")
      private def expect(c: Char): Unit = {
        if (i >= s.length || s.charAt(i) != c) fail(s"expected '$c'")
        i += 1
      }
      def value(depth: Int): JValue = {
        if (depth > MaxDepth) fail("nesting exceeds depth cap")
        if (i >= s.length) fail("truncated")
        s.charAt(i) match {
          case '{' => obj(depth)
          case '[' => arr(depth)
          case '"' => JStr(str())
          case 't' => lit("true"); JBool(true)
          case 'f' => lit("false"); JBool(false)
          case 'n' => lit("null"); JNull
          case c if c == '-' || (c >= '0' && c <= '9') => num()
          case c => fail(s"unexpected '$c'")
        }
      }
      private def lit(word: String): Unit = {
        if (!s.regionMatches(false, i, word, 0, word.length))
          fail(s"bad literal (expected $word)")
        i += word.length
      }
      private def obj(depth: Int): JValue = {
        expect('{'); ws()
        val out = Vector.newBuilder[(String, JValue)]
        if (i < s.length && s.charAt(i) == '}') { i += 1; return JObj(out.result()) }
        var more = true
        while (more) {
          ws()
          val k = str()
          ws(); expect(':'); ws()
          out += (k -> value(depth + 1))
          ws()
          if (i < s.length && s.charAt(i) == ',') { i += 1; more = true }
          else { expect('}'); more = false }
        }
        JObj(out.result())
      }
      private def arr(depth: Int): JValue = {
        expect('['); ws()
        val out = Vector.newBuilder[JValue]
        if (i < s.length && s.charAt(i) == ']') { i += 1; return JArr(out.result()) }
        var more = true
        while (more) {
          ws()
          out += value(depth + 1)
          ws()
          if (i < s.length && s.charAt(i) == ',') { i += 1; more = true }
          else { expect(']'); more = false }
        }
        JArr(out.result())
      }
      private def str(): String = {
        expect('"')
        val sb = new StringBuilder
        while (i < s.length && s.charAt(i) != '"') {
          val c = s.charAt(i)
          if (c < 0x20) fail("raw control character in string")
          if (c == '\\') {
            i += 1
            if (i >= s.length) fail("truncated escape")
            s.charAt(i) match {
              case '"' => sb.append('"')
              case '\\' => sb.append('\\')
              case '/' => sb.append('/')
              case 'b' => sb.append('\b')
              case 'f' => sb.append('\f')
              case 'n' => sb.append('\n')
              case 'r' => sb.append('\r')
              case 't' => sb.append('\t')
              case 'u' =>
                if (i + 4 >= s.length) fail("truncated \\u escape")
                val hex = s.substring(i + 1, i + 5)
                // explicit ASCII hex: Character.digit also accepts
                // Unicode digit chars python rejects
                if (!hex.forall(ch => (ch >= '0' && ch <= '9') ||
                  (ch >= 'a' && ch <= 'f') || (ch >= 'A' && ch <= 'F')))
                  fail(s"bad \\u escape '$hex'")
                sb.append(Integer.parseInt(hex, 16).toChar)
                i += 4
              case other => fail(s"unsupported escape '\\$other'")
            }
          } else sb.append(c)
          i += 1
        }
        if (i >= s.length) fail("unterminated string")
        i += 1
        sb.toString
      }
      private def num(): JValue = {
        val start = i
        if (i < s.length && s.charAt(i) == '-') i += 1
        // ASCII digits only (isDigit is Unicode-aware and would accept
        // what python rejects); RFC 8259 int grammar forbids leading 0s
        def ascii(c: Char): Boolean = c >= '0' && c <= '9'
        def digits(): Unit = {
          val d0 = i
          while (i < s.length && ascii(s.charAt(i))) i += 1
          if (i == d0) fail("bad number")
        }
        val intStart = i
        digits()
        if (s.charAt(intStart) == '0' && i - intStart > 1)
          fail("leading zero in number")
        if (i < s.length && s.charAt(i) == '.') { i += 1; digits() }
        if (i < s.length && (s.charAt(i) == 'e' || s.charAt(i) == 'E')) {
          i += 1
          if (i < s.length && (s.charAt(i) == '+' || s.charAt(i) == '-')) i += 1
          digits()
        }
        JNum(s.substring(start, i))
      }
    }
  }

  /** Serialize back to canonical JSON (insertion order kept) — the
    * other interop direction: python's json must re-read our bytes.
    */
  private[graft] def render(v: JValue): String = v match {
    case JObj(fs) => fs.map { case (k, x) =>
      renderStr(k) + ": " + render(x) }.mkString("{", ", ", "}")
    case JArr(xs) => xs.map(render).mkString("[", ", ", "]")
    case JStr(x) => renderStr(x)
    case JNum(l) => l
    case JBool(b) => b.toString
    case JNull => "null"
  }
  private def renderStr(x: String): String = {
    val sb = new StringBuilder("\"")
    x.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  // -------------------------------------------------------------- wat

  private[graft] case class WatFacts(uri: String, title: String,
      nLinks: Int, status: Int)

  /** Facts of one WAT metadata envelope: target URI (header metadata),
    * page title, link count, and the recorded HTTP status. Missing
    * branches (non-HTML captures have no HTML-Metadata) degrade to
    * empty/zero — absence is data in WAT, not damage.
    */
  private[graft] def watFacts(json: String): WatFacts = {
    val v = Jsons.parse(json)
    val env = Jsons.path(v, "Envelope")
      .getOrElse(sys.error("wat: missing Envelope"))
    val uri = Jsons.path(env, "WARC-Header-Metadata", "WARC-Target-URI")
      match {
        case Some(JStr(u)) => u
        // real WAT files carry envelopes WITHOUT a target URI (the
        // warcinfo-description record) — absence is data, not damage
        case _ => ""
      }
    val respMeta = Jsons.path(env, "Payload-Metadata",
      "HTTP-Response-Metadata")
    val title = respMeta.flatMap(Jsons.path(_, "HTML-Metadata", "Head",
      "Title")) match {
      case Some(JStr(t)) => t
      case _ => ""
    }
    val nLinks = respMeta.flatMap(Jsons.path(_, "HTML-Metadata", "Links"))
      match {
        case Some(JArr(xs)) => xs.size
        case _ => 0
      }
    val status = respMeta.flatMap(Jsons.path(_, "Response-Message",
      "Status")) match {
      case Some(JNum(l)) => l.toInt
      case Some(JStr(l)) => l.toInt // some producers quote it
      case _ => -1
    }
    WatFacts(uri, title, nLinks, status)
  }

  // Fixture arithmetic (the DuckDB oracle re-derives everything): one
  // warcinfo + k = id%3+1 `metadata` records matching the x100 capture
  // set — record j's envelope carries uri http://site{id%7}.example/
  // {id}/{j}, status 404/(id+j)%5 like x100, title "doc {id} {j}", and
  // (id+j)%4+1 links to /l{m}; gzip member-per-record on even ids.
  private[graft] def watOf(id: Long): Array[Byte] = {
    val k = (id % 3 + 1).toInt
    val recs = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    recs += watRecord("warcinfo", s"urn:uuid:$id-watinfo", "",
      """{"Software": "graft-wat"}""")
    (0 until k).foreach { j =>
      val uri = s"http://site${id % 7}.example/$id/$j"
      val status = if ((id + j) % 5 == 0) 404 else 200
      val nLinks = ((id + j) % 4 + 1).toInt
      // the three reference forms a crawler must resolve (RFC 3986 §5):
      // absolute-path, relative-path, and already-absolute; a rotating
      // rel=nofollow (the form real WAT emits when the anchor carries
      // it — multiple tokens possible, so the fixture writes one of
      // the stacked forms too)
      val links = (0 until nLinks).map { m =>
        val href = (m % 3) match {
          case 0 => s"/l$m"
          case 1 => s"l$m"
          case _ => s"http://ext$m.example/p"
        }
        val rel =
          if ((id + j + m) % 5 == 0)
            ", \"rel\": \"" +
              (if (m % 2 == 0) "nofollow" else "noopener nofollow") + "\""
          else ""
        s"""{"path": "A@/href", "url": "$href"$rel}"""
      }.mkString("[", ", ", "]")
      val json =
        s"""{"Envelope": {"WARC-Header-Metadata": {"WARC-Target-URI": "$uri", "WARC-Type": "response"}, "Payload-Metadata": {"HTTP-Response-Metadata": {"Response-Message": {"Status": $status}, "HTML-Metadata": {"Head": {"Title": "doc $id $j"}, "Links": $links}}}}}"""
      recs += watRecord("metadata", s"urn:uuid:$id-$j-wat", uri, json)
    }
    if (id % 2 == 0) recs.toArray.flatMap(WarcSource.gzipOne)
    else recs.toArray.flatten
  }

  private def watRecord(wtype: String, rid: String, uri: String,
                        json: String): Array[Byte] = {
    val payload = json.getBytes("UTF-8")
    val h = new StringBuilder("WARC/1.0\r\n")
    h.append("WARC-Type: ").append(wtype).append("\r\n")
    h.append("WARC-Record-ID: <").append(rid).append(">\r\n")
    h.append("WARC-Date: 2026-03-01T00:00:00Z\r\n")
    if (uri.nonEmpty)
      h.append("WARC-Target-URI: ").append(uri).append("\r\n")
    h.append("Content-Type: application/json\r\n")
    h.append("Content-Length: ").append(payload.length).append("\r\n\r\n")
    h.toString.getBytes("ISO-8859-1") ++ payload ++
      "\r\n\r\n".getBytes("ISO-8859-1")
  }

  def synthesizeWat(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .repartition(spark.sparkContext.defaultParallelism)
      .map(id => graft.operators.Multimodal.ImageRow(id, watOf(id)))
      .toDF()
  }

  /** x120 gate: parse each doc's WAT archive and emit per-capture
    * envelope facts — DuckDB re-derives uri/title/links/status from
    * doc_id arithmetic, so a JSON-grammar or path-walk slip fails the
    * hash.
    */
  def watTable(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("doc_id"), col("content")).as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        WarcSource.parseWarc(bytes).records
          .filter(_.warcType == "metadata")
          .zipWithIndex.map { case (r, j) =>
            val f = watFacts(r.body)
            require(f.uri == r.targetUri,
              s"wat: envelope uri '${f.uri}' != record uri '${r.targetUri}'")
            (id, j, f.uri, f.title, f.nLinks, f.status)
          }
      }
      .toDF("doc_id", "j", "uri", "title", "n_links", "status")
  }

  /** RFC 3986 §5 reference resolution for outlink edges — via
    * `java.net.URI` (the platform implements the algorithm; hand-
    * rolling it would only re-derive the same table), fragment
    * stripped (crawl identity ends at the query). Unresolvable refs
    * return null — a crawler counts them, it never dies on them.
    * Note the known JDK deviation: empty-path references ("?q") drop
    * the base's last path segment where the RFC keeps it — callers
    * resolving query-only refs at scale should normalize those
    * upstream; WAT Links are overwhelmingly path-carrying.
    */
  private[graft] def resolveUrl(base: String, ref: String): String =
    try {
      // strip the fragment TEXTUALLY off the resolved raw form: a parsed
      // URI has at most one raw '#' (any other is percent-encoded), and
      // reassembling from decoded getPath/getQuery would strip the
      // encoding itself — %2F in a path segment became a real '/',
      // changing outlink identity (ADVICE r17)
      val r = new java.net.URI(base).resolve(ref).toString
      r.indexOf('#') match {
        case -1 => r
        case h => r.substring(0, h)
      }
    } catch {
      case _: java.net.URISyntaxException | _: IllegalArgumentException |
          _: NullPointerException => null
    }

  /** Outlink EDGES of each capture: the link-graph substrate — every
    * envelope link resolved to an absolute URL against its capture
    * URI. One row per (capture, link); feeding this into the graph
    * family (pagerank x47, components x69...) is the standard
    * web-graph pipeline, built here without touching page bytes.
    */
  private[graft] def outlinks(json: String): Seq[String] =
    resolvedLinks(json)._2.map(_._1)

  /** One envelope parse → (capture URI or null, resolved (target,
    * nofollow) outlinks) — the shared core of [[outlinks]] (x121 edge
    * rows) and [[watHostEdges]] (x123 host graph), so the host
    * extractor does not re-parse the JSON it just walked. `nofollow` is
    * true when the link's `rel` carries the token (real anchors stack
    * rel values — "noopener nofollow" — so this is a token test, not
    * string equality): the author's explicit "pass no endorsement"
    * signal, which the rank flow honors.
    */
  private[graft] def resolvedLinks(json: String)
      : (String, Seq[(String, Boolean)]) = {
    val v = Jsons.parse(json)
    val env = Jsons.path(v, "Envelope")
      .getOrElse(sys.error("wat: missing Envelope"))
    val base = Jsons.path(env, "WARC-Header-Metadata", "WARC-Target-URI")
      match {
        case Some(JStr(u)) => u
        case _ => return (null, Seq.empty) // no base: nothing resolvable
      }
    val targets = Jsons.path(env, "Payload-Metadata",
      "HTTP-Response-Metadata", "HTML-Metadata", "Links") match {
      case Some(JArr(xs)) => xs.flatMap {
        case o: JObj =>
          val nofollow = o.get("rel") match {
            case Some(JStr(r)) => r.split("\\s+").contains("nofollow")
            case _ => false
          }
          o.get("url") match {
            case Some(JStr(u)) =>
              Option(resolveUrl(base, u)).map(t => (t, nofollow))
            case _ => None
          }
        case _ => None
      }
      case _ => Seq.empty
    }
    (base, targets)
  }

  /** Lowercased host of an absolute URL (authority minus userinfo and
    * port) — the node key of the host link graph. Null for anything
    * unresolvable: a crawler counts junk, it never dies on it.
    */
  private[graft] def hostOf(url: String): String =
    if (url == null) null
    else try {
      val h = new java.net.URI(url).getHost
      if (h == null) null else h.toLowerCase(java.util.Locale.ROOT)
    } catch {
      case _: java.net.URISyntaxException => null
    }

  /** HOST-LEVEL link edges from WAT metadata — the Common Crawl host
    * graph: one (src_host, dst_host, w) row per ordered host pair, w =
    * how many resolved outlinks point that way. This is the substrate
    * the weighted host ranking (x123) runs on; self-edges (intra-site
    * links) are kept — they are real mass a site routes to itself, and
    * dropping them is a CALLER's modeling choice, not the extractor's.
    *
    * 100 TB shape: the per-capture flatMap is narrow over archive
    * tasks; the groupBy collapses link-sized rows to host-pair-sized
    * ones in one exchange (map-side combined), so the PageRank that
    * follows iterates over the COLLAPSED graph.
    */
  def watHostEdges(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("doc_id"), col("content")).as[(Long, Array[Byte])]
      .flatMap { case (_, bytes) =>
        WarcSource.parseWarc(bytes).records
          // body != null like the sibling arms (watRows): a metadata
          // record with a non-JSON content type has no decoded body, and
          // a crawler counts junk, it never dies on it (r18 review)
          .filter(r => r.warcType == "metadata" && r.body != null)
          .flatMap { r =>
            val (base, targets) = resolvedLinks(r.body)
            val src = hostOf(base)
            if (src == null) Seq.empty
            // rel=nofollow is the author saying "pass no endorsement" —
            // the canonical rank flow drops those edges (they remain
            // visible in the x121 edge rows for crawl-discovery uses)
            else targets.filter(!_._2)
              .flatMap(t => Option(hostOf(t._1)))
              .map(dst => (src, dst))
          }
      }
      .toDF("src", "dst")
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
  }

  /** x121 gate: the resolved outlink edge list per capture, with the
    * parsed rel=nofollow flag (as int — the cross-engine boolean form).
    */
  def watOutlinkTable(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("doc_id"), col("content")).as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        WarcSource.parseWarc(bytes).records
          .filter(_.warcType == "metadata")
          .zipWithIndex.flatMap { case (r, j) =>
            resolvedLinks(r.body)._2.zipWithIndex.map { case ((t, nf), m) =>
              (id, j, m, t, if (nf) 1 else 0)
            }
          }
      }
      .toDF("doc_id", "j", "m", "target", "nofollow")
  }

  /** One archive's envelope-fact rows (file, uri, title, n_links,
    * status), shared by [[watFiles]] and `StreamingAnalytics.watIngest`.
    * Record-at-a-time on the streaming WARC walk; under `lenient` a bad
    * envelope degrades per record (uri kept, facts -1) and container
    * damage ends the file with ONE uri-NULL poison row.
    */
  private[graft] def watRows(path: String, conf: org.apache.hadoop.conf.Configuration,
                             lenient: Boolean)
      : Iterator[(String, String, String, Int, Int)] =
    StreamUtil.fileRows(path, conf, lenient, (path, null, null, -1, -1), in =>
      new WarcSource.WarcIterator(in, lenientHttp = lenient)
        .filter(r => r.warcType == "metadata" && r.body != null)
        .map { r =>
          val f =
            try watFacts(r.body)
            catch {
              case e: RuntimeException =>
                if (!lenient) throw e
                WatFacts(r.targetUri, null, -1, -1) // bad envelope
            }
          (path, f.uri, f.title, f.nLinks, f.status)
        })

  /** File-path arm: metadata envelopes of `.wat(.gz)` files under a
    * glob — one task per file, rows from [[watRows]].
    */
  def watFiles(spark: SparkSession, glob: String,
               lenient: Boolean = true): DataFrame = {
    import spark.implicits._
    val conf = new Shims.SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
    spark.sparkContext.binaryFiles(glob).keys
      .flatMap(watRows(_, conf.value, lenient))
      .toDF("file", "uri", "title", "n_links", "status")
  }
}

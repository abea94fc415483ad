package graft.functions

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass sketch kernels shared by interpreted eval and generated code.
  * All hashing is xxHash64 over UTF-8 bytes (Spark's own XXH64 — public
  * `org.apache.spark.unsafe.hash.Murmur3_x86_32`-sibling), so sketches are
  * deterministic across JVMs and partitionings.
  */
object SketchUtil {
  import org.apache.spark.sql.catalyst.expressions.XXH64

  def hash64(s: UTF8String, seed: Long): Long =
    XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), seed)

  /** k min-hashes over the element set, via Kirsch-Mitzenmacher double
    * hashing: g_j(x) = h1(x) + j*h2(x). One pass over the elements,
    * O(T + T·k) adds — no per-seed re-hash.
    */
  def minHash(elems: ArrayData, k: Int): ArrayData = {
    val mins = Array.fill(k)(Long.MaxValue)
    val n = elems.numElements()
    var i = 0
    while (i < n) {
      if (!elems.isNullAt(i)) {
        val s = elems.getUTF8String(i)
        val h1 = hash64(s, 0x9747b28cL)
        val h2 = hash64(s, 0x85ebca6bL) | 1L // odd => full-period
        var j = 0
        var g = h1
        while (j < k) {
          if (g < mins(j)) mins(j) = g
          g += h2
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** 64-bit SimHash over the element bag: per element, each bit of its
    * xxhash64 votes +1/-1; the sign vector packs into a long.
    */
  def simHash(elems: ArrayData): Long = {
    val counters = new Array[Int](64)
    val n = elems.numElements()
    var i = 0
    while (i < n) {
      if (!elems.isNullAt(i)) {
        val h = hash64(elems.getUTF8String(i), 0x27d4eb2fL)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counters(b) += 1 else counters(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counters(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Token count of `split(trim(text), "\s+", -1)` WITHOUT materializing
    * the token array: count = (maximal whitespace runs in the 0x20-trimmed
    * string) + 1 — a leading/trailing non-0x20 whitespace run yields an
    * empty token exactly like Java's split with -1 limit, and the empty
    * string counts 1 ([""]). Java regex \s is ASCII-only
    * ([ \t\n\x0B\f\r]), so multi-byte UTF-8 chars never match and the
    * byte-level scan is exact.
    */
  def tokenCount(text: UTF8String): Int = {
    val s = text.trim() // 0x20-only trim, same as Spark's trim()
    val n = s.numBytes()
    var runs = 0
    var inRun = false
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      val ws = b == 0x20 || (b >= 0x09 && b <= 0x0D)
      if (ws) { if (!inRun) { runs += 1; inRun = true } }
      else inRun = false
      i += 1
    }
    runs + 1
  }

  private val wsPattern = java.util.regex.Pattern.compile("\\s+")

  /** Distinct n-word shingles of a text column, first-occurrence order —
    * single pass, one compiled regex. Semantics match the SQL shape
    * `array_distinct(transform(sequence(...), i -> concat_ws(' ',
    * slice(split(trim(text),'\s+'), i, n))))` exactly (trim = ASCII spaces
    * only, split keeps leading/trailing empty tokens like Spark's
    * `split(str, regex, -1)`), but ~100x faster: the higher-order-function
    * form re-evaluates the regex split once per shingle position because
    * common-subexpression elimination doesn't reach inside lambda bodies.
    */
  def wordShingles(text: UTF8String, n: Int): ArrayData = {
    val s = text.trim().toString // UTF8String.trim: 0x20 only, like Spark's trim()
    val toks = wsPattern.split(s, -1)
    if (toks.length < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String](toks.length * 2)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i + n <= toks.length) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](seen.size())
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
    new GenericArrayData(out)
  }

  /** All unordered id pairs of a bigint array, each an `(a, b)` struct
    * with `a <= b` — full 64-bit ids (the packed-single-long form capped
    * ids at 2^32, i.e. ~4.3B documents; a struct key is 16 bytes in the
    * shuffle and has no ceiling). One pass — the
    * `flatten(transform(..., slice(...)))` higher-order equivalent
    * allocates O(d^2) intermediate arrays per call and evaluates the
    * lambdas interpreted. Sorts a copy first so the encoding is
    * order-canonical regardless of input order.
    */
  def pairEncode(ids: ArrayData): ArrayData = {
    val n = ids.numElements()
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    val a = new Array[Long](n)
    var i = 0
    while (i < n) { a(i) = ids.getLong(i); i += 1 }
    java.util.Arrays.sort(a)
    val out = new Array[Any](n * (n - 1) / 2)
    var k = 0
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        val row = new GenericInternalRow(2)
        row.setLong(0, a(i))
        row.setLong(1, a(j))
        out(k) = row
        k += 1; j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

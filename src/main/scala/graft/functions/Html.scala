package graft.functions

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.Platform

/** Pure HTML extraction — `[SPEC-X1]` / `[SPEC-X2]` (SURVEY.md §2.3).
  *
  * No external HTML library exists on disk, so one single-pass scanner over
  * the page's UTF-8 bytes serves every entry point: [[extractText]] (X2),
  * [[extractLinks]] (X1) and the crawl's [[scanPageHrefs]]. All three are
  * total: any byte sequence (null included) yields a possibly empty result,
  * never an exception.
  *
  * extractText (X2) — frozen order of operations (the byte-exactness contract
  * of BASELINE.json `input_hint`): strip <script>/<style> blocks → strip all
  * tags → decode the 5 XML entities + &nbsp; (single left-to-right pass; the
  * '&' produced by &amp; is NOT rescanned) → collapse [ \t\r\n]+ to one space
  * → trim. &nbsp; decodes to a plain space (then collapsed).
  *
  * extractLinks (X1): <a href> attributes in document order, quote-aware
  * attribute parsing, anchor text extracted with X2 semantics applied to the
  * element body, deduplicated within the page by href keeping the first.
  *
  * Why bytes are enough. The semantics are defined over the decoded string
  * (tag names fold with `Character.toLowerCase`). Every delimiter the scanner
  * looks for ('<' '>' '/' '=' quotes, entity names, [ \t\r\n]) is ASCII, and
  * no byte of a UTF-8 multi-byte sequence is below 0x80, so on valid UTF-8
  * the byte scan visits exactly the positions the char scan would, slices
  * only on code-point boundaries, and its output bytes decode to the char
  * scan's output. Two inputs need care:
  *
  *  - Invalid UTF-8 is decoded once (malformed sequences become U+FFFD) and
  *    re-encoded. The JDK decoder never emits a lone surrogate, so the
  *    re-encoded bytes are valid UTF-8 that decode to the same string, and
  *    scanning them equals the char scan of that string.
  *  - U+0130 'İ' and U+212A 'K' are the only non-ASCII chars that
  *    `Character.toLowerCase` folds to ASCII ('i', 'k'; pinned exhaustively
  *    by CanonExprSpec). No matched name (`script`, `style`, `a`, `href`)
  *    has a 'k', and only `script` has an 'i', so the single extra rule is
  *    in the tag-name matcher: where a name has 'i', the bytes C4 B0 (İ)
  *    match too, which makes `<scrİpt>` a script block as the char
  *    semantics say.
  */
object Html {

  final case class Link(href: String, anchor: String)

  /** Crawl-path scan result: hrefs (X1 traversal, no anchor text) plus
    * xxhash64(seed 42) of the X2 text, which is never materialized.
    */
  final case class PageScanHrefs(hrefs: Array[String], textXxh64: Long)

  /** X2: html bytes (UTF-8) → byte-identical extracted text. */
  def extractText(html: Array[Byte]): String = {
    val b = scannable(html)
    textOf(b, 0, b.length)
  }

  /** X1: ordered (href, anchor) pairs from <a href> tags; in-page dedup by
    * href keeping the first occurrence `[SPEC-X1]`.
    */
  def extractLinks(html: Array[Byte]): Array[Link] = {
    val b = scannable(html)
    val out = scala.collection.mutable.ArrayBuffer.empty[Link]
    foreachLink(b)((href, from, until) => out += Link(href, textOf(b, from, until)))
    out.toArray
  }

  /** The crawl's page scan: X1's hrefs without their anchor text (the
    * fetch log keeps only n_links and text_xxh64, and candidate generation
    * keys on href) plus the X2 text hash, hashed straight from the scan
    * buffer. hrefs ≡ extractLinks.map(_.href) and textXxh64 ≡
    * xxhash64(extractText) are pinned by CanonExprSpec and HtmlSpec.
    */
  def scanPageHrefs(html: Array[Byte]): PageScanHrefs = {
    val b = scannable(html)
    val hrefs = scala.collection.mutable.ArrayBuffer.empty[String]
    foreachLink(b)((href, _, _) => hrefs += href)
    val buf = buffers.get()
    val w = textBytes(b, 0, b.length, buf)
    PageScanHrefs(hrefs.toArray,
      XXH64.hashUnsafeBytes(buf.bytes, Platform.BYTE_ARRAY_OFFSET, w, 42L))
  }

  /** The bytes to scan: empty for null, the page itself when it is valid
    * UTF-8, else its decode-then-re-encode (see the header).
    */
  private def scannable(html: Array[Byte]): Array[Byte] =
    if (html == null) Array.emptyByteArray
    else if (isValidUtf8(html)) html
    else new String(html, UTF_8).getBytes(UTF_8)

  /** Strict UTF-8 well-formedness check (RFC 3629: no overlongs, no
    * surrogates, ≤ U+10FFFF) — single pass, no allocation.
    */
  private[graft] def isValidUtf8(b: Array[Byte]): Boolean = {
    var i = 0
    val n = b.length
    while (i < n) {
      val c = b(i) & 0xff
      if (c < 0x80) i += 1
      else if (c < 0xc2) return false // continuation or overlong lead
      else if (c < 0xe0) { // 2-byte
        if (i + 1 >= n || (b(i + 1) & 0xc0) != 0x80) return false
        i += 2
      } else if (c < 0xf0) { // 3-byte
        if (i + 2 >= n) return false
        val c1 = b(i + 1) & 0xff
        if ((c1 & 0xc0) != 0x80 || (b(i + 2) & 0xc0) != 0x80) return false
        if (c == 0xe0 && c1 < 0xa0) return false // overlong
        if (c == 0xed && c1 >= 0xa0) return false // surrogate
        i += 3
      } else if (c < 0xf5) { // 4-byte
        if (i + 3 >= n) return false
        val c1 = b(i + 1) & 0xff
        if ((c1 & 0xc0) != 0x80 || (b(i + 2) & 0xc0) != 0x80 || (b(i + 3) & 0xc0) != 0x80) return false
        if (c == 0xf0 && c1 < 0x90) return false // overlong
        if (c == 0xf4 && c1 >= 0x90) return false // > U+10FFFF
        i += 4
      } else return false
    }
    true
  }

  /** Single left-to-right entity decode of the frozen entity set. */
  private def decodeEntities(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') {
        if (s.startsWith("&amp;", i)) { sb.append('&'); i += 5 }
        else if (s.startsWith("&lt;", i)) { sb.append('<'); i += 4 }
        else if (s.startsWith("&gt;", i)) { sb.append('>'); i += 4 }
        else if (s.startsWith("&quot;", i)) { sb.append('"'); i += 6 }
        else if (s.startsWith("&apos;", i)) { sb.append('\''); i += 6 }
        else if (s.startsWith("&nbsp;", i)) { sb.append(' '); i += 6 }
        else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  // One reused, growing output buffer per thread: the text passes write
  // into it instead of allocating page-sized builders and Strings per page.
  private final class ScanBuffer {
    var bytes = new Array[Byte](16 * 1024)
    def ensure(n: Int): Unit =
      if (bytes.length < n) bytes = new Array[Byte](Integer.highestOneBit(n) * 2)
  }
  private val buffers = ThreadLocal.withInitial[ScanBuffer](() => new ScanBuffer)

  private def isWs(c: Int) = c == ' ' || c == '\t' || c == '\r' || c == '\n'

  private def lower(c: Int): Int = if (c >= 'A' && c <= 'Z') c + 32 else c

  /** Index just past the first '>' at or after `from`, or `until`. */
  private def pastGt(b: Array[Byte], from: Int, until: Int): Int = {
    var i = from
    while (i < until && b(i) != '>') i += 1
    if (i < until) i + 1 else until
  }

  /** Index just past `name` matched case-insensitively at `at` (before
    * `until`), or -1. Where `name` has 'i' the bytes C4 B0 (U+0130) also
    * match — the one non-ASCII fold any matched name can see (header).
    */
  private def nameEnd(b: Array[Byte], at: Int, until: Int, name: String): Int = {
    var p = at
    var j = 0
    while (j < name.length) {
      if (p >= until) return -1
      val c = b(p) & 0xff
      if (lower(c) == name.charAt(j)) p += 1
      else if (c == 0xc4 && name.charAt(j) == 'i' && p + 1 < until && (b(p + 1) & 0xff) == 0xb0) p += 2
      else return -1
      j += 1
    }
    p
  }

  /** True if `<name` opens a tag at `i`: followed by whitespace, '>', '/'
    * or the end of the range.
    */
  private def tagAt(b: Array[Byte], i: Int, until: Int, name: String): Boolean =
    b(i) == '<' && {
      val after = nameEnd(b, i + 1, until, name)
      after >= 0 && (after >= until || isWs(b(after)) || b(after) == '>' || b(after) == '/')
    }

  /** True if `</name` closes a tag at `i`: followed by whitespace, '>' or
    * the end of the range.
    */
  private def closeTagAt(b: Array[Byte], i: Int, until: Int, name: String): Boolean =
    b(i) == '<' && i + 1 < until && b(i + 1) == '/' && {
      val after = nameEnd(b, i + 2, until, name)
      after >= 0 && (after >= until || isWs(b(after)) || b(after) == '>')
    }

  /** Index just past the `</name ...>` closing the block opened at
    * `openIdx`, or `until`.
    */
  private def skipBlock(b: Array[Byte], openIdx: Int, until: Int, name: String): Int = {
    var i = pastGt(b, openIdx, until)
    while (i < until) {
      if (closeTagAt(b, i, until, name)) return pastGt(b, i, until)
      i += 1
    }
    until
  }

  private def startsWith(b: Array[Byte], n: Int, lit: String, at: Int): Boolean = {
    if (at + lit.length > n) return false
    var j = 0
    while (j < lit.length) {
      if (b(at + j) != lit.charAt(j)) return false
      j += 1
    }
    true
  }

  /** X2 over the byte range [from, until) — strip blocks/tags → entity
    * decode → collapse → trim, fused — written to `buf.bytes`; returns its
    * length. Blocks and tags are clamped to the range, so an anchor body
    * scans exactly as if it were a document of its own.
    */
  private def textBytes(b: Array[Byte], from: Int, until: Int, buf: ScanBuffer): Int = {
    buf.ensure(until - from)
    val out = buf.bytes
    // pass 1: strip
    var n = 0
    var i = from
    while (i < until) {
      val c = b(i)
      if (c == '<') {
        if (tagAt(b, i, until, "script")) i = skipBlock(b, i, until, "script")
        else if (tagAt(b, i, until, "style")) i = skipBlock(b, i, until, "style")
        else i = pastGt(b, i, until)
      } else { out(n) = c; n += 1; i += 1 }
    }
    // pass 2: entities + collapse + trim, in place (every entity decode
    // shrinks and collapse never grows, so the write index never overtakes
    // the read index)
    var w = 0
    var pendingSpace = false
    i = 0
    while (i < n) {
      var c = out(i).toInt
      var step = 1
      if (c == '&') {
        if (startsWith(out, n, "&amp;", i)) { c = '&'; step = 5 }
        else if (startsWith(out, n, "&lt;", i)) { c = '<'; step = 4 }
        else if (startsWith(out, n, "&gt;", i)) { c = '>'; step = 4 }
        else if (startsWith(out, n, "&quot;", i)) { c = '"'; step = 6 }
        else if (startsWith(out, n, "&apos;", i)) { c = '\''; step = 6 }
        else if (startsWith(out, n, "&nbsp;", i)) { c = ' '; step = 6 }
      }
      if (isWs(c)) pendingSpace = true
      else {
        if (pendingSpace && w > 0) { out(w) = ' '; w += 1 }
        pendingSpace = false
        out(w) = c.toByte
        w += 1
      }
      i += step
    }
    w
  }

  /** X2 text of the byte range [from, until) as a String. */
  private def textOf(b: Array[Byte], from: Int, until: Int): String = {
    val buf = buffers.get()
    val w = textBytes(b, from, until, buf)
    new String(buf.bytes, 0, w, UTF_8)
  }

  /** Parse the tag starting at `lt` (b(lt)=='<') for its `href` attribute
    * only: quote-aware, unquoted values end at whitespace or '>', names
    * case-insensitive, first occurrence wins — the general attribute
    * grammar, specialized so no attribute map or unused name/value
    * substrings are allocated. Returns (href or null, indexPastGt).
    */
  private def parseHref(b: Array[Byte], lt: Int): (String, Int) = {
    val n = b.length
    var i = lt + 1
    while (i < n && b(i) != '>' && !isWs(b(i)) && b(i) != '/') i += 1
    var href: String = null
    while (i < n && b(i) != '>') {
      while (i < n && (isWs(b(i)) || b(i) == '/')) i += 1
      if (i >= n || b(i) == '>') return (href, if (i < n) i + 1 else n)
      val nameStart = i
      while (i < n && b(i) != '=' && b(i) != '>' && !isWs(b(i))) i += 1
      val isHref = i - nameStart == 4 && nameEnd(b, nameStart, i, "href") == i
      var j = i
      while (j < n && isWs(b(j))) j += 1
      if (j < n && b(j) == '=') {
        j += 1
        while (j < n && isWs(b(j))) j += 1
        if (j < n && (b(j) == '"' || b(j) == '\'')) {
          val q = b(j)
          val vStart = j + 1
          var k = vStart
          while (k < n && b(k) != q) k += 1
          if (isHref && href == null) href = new String(b, vStart, k - vStart, UTF_8)
          i = if (k < n) k + 1 else k
        } else {
          val vStart = j
          var k = vStart
          while (k < n && !isWs(b(k)) && b(k) != '>') k += 1
          if (isHref && href == null) href = new String(b, vStart, k - vStart, UTF_8)
          i = k
        }
      } else {
        if (isHref && href == null) href = ""
        i = j
      }
    }
    (href, if (i < n) i + 1 else n)
  }

  /** The X1 traversal: calls `f(href, bodyFrom, bodyUntil)` for each
    * first-seen, non-empty, entity-decoded and trimmed href of an <a> tag
    * outside script/style blocks, in document order. The body runs to the
    * matching </a>, to the next <a (an implicit close) or to the end.
    */
  private def foreachLink(b: Array[Byte])(f: (String, Int, Int) => Unit): Unit = {
    val seen = scala.collection.mutable.HashSet.empty[String]
    val n = b.length
    var i = 0
    while (i < n) {
      if (b(i) != '<') i += 1
      else if (tagAt(b, i, n, "script")) i = skipBlock(b, i, n, "script")
      else if (tagAt(b, i, n, "style")) i = skipBlock(b, i, n, "style")
      else if (tagAt(b, i, n, "a")) {
        val (hrefRaw, past) = parseHref(b, i)
        var bodyEnd = past
        var end = n
        var found = false
        while (!found && bodyEnd < n) {
          if (closeTagAt(b, bodyEnd, n, "a")) { end = pastGt(b, bodyEnd, n); found = true }
          else if (tagAt(b, bodyEnd, n, "a")) { end = bodyEnd; found = true }
          else bodyEnd += 1
        }
        if (hrefRaw != null && hrefRaw.nonEmpty) {
          val href = decodeEntities(hrefRaw).trim
          if (href.nonEmpty && seen.add(href)) f(href, past, bodyEnd)
        }
        i = end
      } else i = pastGt(b, i, n)
    }
  }
}

package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Html
import graft.oracle.OracleHtml

/** Golden vectors for X1/X2 — `[SPEC-X1]`/`[SPEC-X2]`, FIXTURES.md §3 —
  * plus seeded hostile-byte properties of the scanner.
  */
class HtmlSpec extends AnyFunSuite with SeededProps {

  private def text(s: String) = Html.extractText(s.getBytes(UTF_8))
  private def links(s: String) = Html.extractLinks(s.getBytes(UTF_8)).toSeq

  test("X2 strips tags and collapses whitespace") {
    assert(text("<p>hello   world</p>") == "hello world")
    assert(text("<p>a</p>\n\t<p>b</p>") == "a b")
    assert(text("  <b>x</b>  ") == "x")
    assert(text("") == "")
    assert(text("plain") == "plain")
  }

  test("X2 strips script/style blocks including decoy markup inside") {
    assert(text("<script>var x = \"<a href='/no'>d</a>\";</script>after") == "after")
    assert(text("<style>body { color: red }</style>after") == "after")
    assert(text("a<SCRIPT>x</SCRIPT>b<Style>y</STYLE>c") == "abc")
    assert(text("<script src=\"x.js\"></script>t") == "t")
    assert(text("<script>never closed") == "")
  }

  test("X2 decodes exactly the frozen entity set, single pass") {
    assert(text("a &amp; b") == "a & b")
    assert(text("&lt;tag&gt;") == "<tag>")
    assert(text("&quot;q&quot; &apos;a&apos;") == "\"q\" 'a'")
    assert(text("a&nbsp;b") == "a b")
    assert(text("x &amp;lt; y") == "x &lt; y") // no double decode
    assert(text("&unknown; stays") == "&unknown; stays")
  }

  test("X2 full document golden") {
    val html = "<html><head><title>T One</title><style>x{}</style>" +
      "<script>s()</script></head>\n<body><p>para  one</p>\n" +
      "<ul><li><a href=\"/a\">L1</a></li></ul>\n<p>end &amp; out</p></body></html>"
    assert(text(html) == "T One para one L1 end & out")
    // tags themselves contribute no separator ([SPEC-X2]: tags → nothing)
    assert(text("<p>a</p><p>b</p>") == "ab")
  }

  test("X2 byte-identity on UTF-8 multibyte") {
    val s = "<p>héllo wörld — ünïcode</p>"
    assert(Html.extractText(s.getBytes("UTF-8")) == "héllo wörld — ünïcode")
  }

  test("X1 extracts hrefs in document order with anchors") {
    val html = """<a href="/one">First</a> mid <a href='/two'>Second <b>bold</b></a>"""
    assert(links(html) == Seq(Html.Link("/one", "First"), Html.Link("/two", "Second bold")))
  }

  test("X1 dedups within page keeping first occurrence") {
    val html = """<a href="/x">a</a><a href="/y">b</a><a href="/x">c</a>"""
    assert(links(html).map(_.href) == Seq("/x", "/y"))
    assert(links(html).head.anchor == "a")
  }

  test("X1 quote-aware attribute parsing") {
    assert(links("""<a class="k" href="/q?a=1&amp;b=2">t</a>""").map(_.href) == Seq("/q?a=1&b=2"))
    assert(links("""<a href=/unquoted>t</a>""").map(_.href) == Seq("/unquoted"))
    assert(links("""<a href='/sq'>t</a>""").map(_.href) == Seq("/sq"))
    assert(links("""<a HREF="/caps">t</a>""").map(_.href) == Seq("/caps"))
    assert(links("""<a href="">t</a><a>u</a>""") == Seq.empty)
  }

  test("X1 ignores links inside script/style; handles unclosed <a>") {
    assert(links("""<script><a href="/no">x</a></script><a href="/yes">y</a>""").map(_.href) == Seq("/yes"))
    assert(links("""<a href="/open">text to end""").map(_.href) == Seq("/open"))
  }

  test("X1 nested <a> closes implicitly") {
    val l = links("""<a href="/outer">o <a href="/inner">i</a>""")
    assert(l.map(_.href) == Seq("/outer", "/inner"))
    assert(l.head.anchor == "o")
  }

  test("X2∘gen ≡ identity on the synthetic corpus (closes the input_hint loop)") {
    val cfg = graft.sources.SyntheticWeb.WebConfig(seed = 42L, nPages = 50, nHosts = 8)
    (0L until 50L).foreach { id =>
      val p = graft.sources.SyntheticWeb.makePage(cfg, id)
      assert(Html.extractText(p.html) == p.text, s"page $id")
      assert(p.text.nonEmpty)
      assert(Html.extractLinks(p.html).nonEmpty, s"page $id has links")
    }
  }

  // ---- hostile input ----

  private def bytesOf(cps: Int*): Array[Byte] = cps.map(_.toByte).toArray

  /** Case-folding bytes (C4 B0 = U+0130, E2 84 AA = U+212A), 0xFF and
    * truncated multi-byte sequences.
    */
  private val oddBytes: Seq[Array[Byte]] = Seq(bytesOf(0xc4, 0xb0),
    bytesOf(0xe2, 0x84, 0xaa), bytesOf(0xff), bytesOf(0xc3), bytesOf(0xe2, 0x84),
    bytesOf(0xf0, 0x9f, 0x98))

  private def soupOf(tokens: Seq[String]): Gen[Array[Byte]] = {
    val all = tokens.map(_.getBytes(UTF_8)) ++ oddBytes
    Gen.choose(0, 60).flatMap(n => Gen.listOfN(n, Gen.oneOf(all))).map(_.toArray.flatten)
  }

  /** Markup fragments: tags cut anywhere, unclosed quotes and blocks. */
  private val fragmentSoup = soupOf(Seq(
    "<a", "<A ", "<a>", " href=", "HREF =", "\"", "'", ">", "</a>", "</A >", "</a",
    "<script", "<script>", "</script>", "<style>", "</style >", "<scr\u0130pt>",
    "</scr\u0130pt>", "<p>", "&amp;", "&nbsp;", "&lt;", "&", " ", "\t", "\n", "\r\n",
    "x", "/p?q=1", "=", "/", "é", "漢", "😀"))

  /** Whole elements and text: the markup OracleHtml's regexes model. On
    * fragment soups the two read malformed markup differently — the oracle
    * strips script/style blocks before tags, so `<p <script>x</script>y`
    * is "" to it and "xy" to the scanner; it needs a '>' to open an <a>, so
    * `<a href="x` is no link to it; and it ends an anchor body after the
    * blocks are gone, so a `</a>` inside a script in the body does not
    * end the body for it.
    */
  private val elementSoup = soupOf(Seq(
    "<a href=\"/x\">t</a>", "<a href='/y?a=1&amp;b=2'>é &amp; u</a>", "<A HREF=/z>z</A >",
    "<a class=\"c\" href=\"/x\">dup</a>", "<a>no href</a>", "<a href=\"\">empty</a>",
    "<a href=/open>open", "</a>", "<script>if (a < b) f(\"</p>\");</script>",
    "<SCRIPT src=\"s.js\"></SCRIPT>", "<style>p{}</style >", "<p>", "</p>", "<br/>",
    "<b class=\"k\">", "&amp;", "&nbsp;", "&lt;", "&", " ", "\t", "\n", "x", "=", "/",
    "\"", "'", ">", "é", "漢", "😀"))

  private def hasU0130(b: Array[Byte]): Boolean =
    b.indices.dropRight(1).exists(i => b(i) == 0xc4.toByte && b(i + 1) == 0xb0.toByte)

  private def sparkXxhash64(text: String): Long =
    new XxHash64(Seq(Literal(text))).eval().asInstanceOf[Long]

  private def scanned(b: Array[Byte]) = {
    val s = Html.scanPageHrefs(b)
    (Html.extractLinks(b).toSeq, Html.extractText(b), s.hrefs.toSeq, s.textXxh64)
  }

  test("hostile bytes: scan shapes agree and the UTF-8 re-encode is invisible") {
    forAll(fragmentSoup, n = 3000, seed = 7L) { b =>
      val (links, text, hrefs, hash) = scanned(b)
      assert(hrefs == links.map(_.href))
      assert(hash == sparkXxhash64(text))
      assert(scanned(new String(b, UTF_8).getBytes(UTF_8)) == ((links, text, hrefs, hash)))
    }
  }

  test("hostile bytes: byte scanner ≡ OracleHtml on element soups without U+0130") {
    var checked = 0
    forAll(elementSoup, n = 3000, seed = 11L) { b =>
      if (!hasU0130(b)) {
        val shown = new String(b, UTF_8)
        assert(Html.extractLinks(b).toSeq.map(l => (l.href, l.anchor)) ==
          OracleHtml.links(b).map(l => (l.href, l.anchor)), s"links: $shown")
        assert(Html.extractText(b) == OracleHtml.text(b), s"text: $shown")
        checked += 1
      }
    }
    assert(checked > 1000, s"only $checked soups without U+0130")
  }

  test("hostile bytes: a 4 MiB pathological page scans in bounded time") {
    val page = new java.io.ByteArrayOutputStream(5 << 20)
    (0 until 100000).foreach(i => page.write(s"<a href=/n$i>t".getBytes(UTF_8))) // nested <a
    page.write("<script x<a href=\"/in-script\">".getBytes(UTF_8)) // unclosed <script
    val filler = "w <b>&amp; ".getBytes(UTF_8)
    while (page.size < (2 << 20)) page.write(filler)
    page.write("</script><a href=\"".getBytes(UTF_8)) // unclosed href value
    while (page.size < (4 << 20)) page.write(filler)
    val b = page.toByteArray
    val t0 = System.nanoTime()
    val scan = Html.scanPageHrefs(b)
    val links = Html.extractLinks(b)
    val text = Html.extractText(b)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 10.0, f"pathological page took $secs%.1f s")
    assert(scan.hrefs.toSeq == links.toSeq.map(_.href))
    assert(scan.hrefs.take(100000).toSeq == (0 until 100000).map(i => s"/n$i"))
    assert(text.startsWith("t" * 100000) && text.endsWith("w & w & w &"))
  }
}

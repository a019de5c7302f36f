package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{CanonExpressions, UrlCanon, UrlFunctions}

/** M12: the native Catalyst expressions must be value-identical to the
  * UrlCanon/Html kernels they call (compared on collected rows), and the
  * candidate pipeline must stay inside whole-stage codegen.
  */
class CanonExprSpec extends AnyFunSuite with SparkTestSession {

  lazy val pages = graft.sources.SyntheticWeb.pages(
    spark, graft.sources.SyntheticWeb.WebConfig(seed = 42L, nPages = 300, nHosts = 12)).toDF()

  /** (base, url, host, path, surt) of `canonParts(resolve(base, href))`. */
  private def oracleParts(base: String, href: String): Seq[Any] = {
    val cp = UrlCanon.canonParts(UrlCanon.resolve(base, href))
    if (cp == null) Seq(base, null, null, null, null) else Seq(base, cp.url, cp.host, cp.path, cp.surt)
  }

  test("resolveCanon expression ≡ UrlCanon.canonParts(resolve) on corpus link soup") {
    val links = pages.select(col("url").as("base"),
      explode(UrlFunctions.extractLinksUdf(col("html"))).as("l"))
    val viaExpr = links.select(col("base"),
        CanonExpressions.resolveCanonCol(col("base"), col("l.href")).as("cp"))
      .select(col("base"), col("cp.url"), col("cp.host"), col("cp.path"), col("cp.surt"))
      .collect().map(_.toSeq).toSet
    val viaOracle = links.select(col("base"), col("l.href")).collect()
      .map(r => oracleParts(r.getString(0), r.getString(1))).toSet
    assert(viaExpr == viaOracle)
    assert(viaExpr.nonEmpty, "trivially-empty comparison")
  }

  test("canon/surt expressions match UDFs incl. null for unparseable input") {
    import spark.implicits._
    val raw = Seq(
      "HTTP://Ex.COM:80/a/../b?utm_source=x&b=2&a=%41#f",
      "https://h.example/p/./q//r?",
      "not a url", "", "ftp://x/y", "http://UP.Example.org:8080/Z?z=1&y=2").toDF("raw")
    val e = raw.select(col("raw"), UrlFunctions.canonUdf(col("raw")), UrlFunctions.surtUdf(col("raw")))
      .collect().map(_.toSeq).toSeq
    val u = raw.collect().map(_.getString(0))
      .map(r => Seq(r, UrlCanon.canonicalize(r), UrlCanon.surt(r))).toSeq
    assert(e == u)
  }

  /** Spark's `xxhash64` (seed 42) of a string. */
  private def xxh64(text: String): Long = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    new XxHash64(Seq(Literal(text))).eval().asInstanceOf[Long]
  }

  test("textHash ≡ xxhash64(extractText) — corpus + adversarial vectors") {
    import java.nio.charset.StandardCharsets.UTF_8
    import graft.functions.Html
    def check(html: Array[Byte], tag: String): Unit =
      assert(Html.scanPageHrefs(html).textXxh64 == xxh64(Html.extractText(html)),
        s"hash mismatch for vector: $tag")
    val vectors = Seq(
      "", "   ", "plain text", "  lead and trail  ",
      "<p>a&amp;b</p>", "&amp;&lt;&gt;&quot;&apos;&nbsp;x",
      "a&nbsp;&nbsp;b", "&amp", "&bogus; &",
      "<script>var x = '<p>no</p>';</script>visible<style>a{}</style>",
      "<a href=\"x\">anchor</a> body",
      "tab\there\nnewline\r\nend",
      "unicode: é漢字 😀 end", // é 漢字 😀 (surrogate pair)
      "unpaired \ud800 surrogate", "low \udc00 alone",
      "<b>nested <i>tags</i></b> &lt;kept&gt;",
      "<p>entity spans tags: &am<b></b>p; stays</p>")
    vectors.foreach(v => check(v.getBytes(UTF_8), v.take(60)))
    check(null, "null")
    val rows = pages.select(col("html")).collect()
    rows.foreach(r => check(r.getAs[Array[Byte]](0), "corpus"))
    assert(rows.nonEmpty)
  }

  test("byte scanner ≡ OracleHtml — corpus + adversarial byte vectors") {
    import java.nio.charset.StandardCharsets.UTF_8
    import graft.functions.Html
    import graft.oracle.OracleHtml
    def check(bytes: Array[Byte], tag: String): Unit = {
      val links = Html.extractLinks(bytes).toSeq.map(l => (l.href, l.anchor))
      val text = Html.extractText(bytes)
      assert(links == OracleHtml.links(bytes).map(l => (l.href, l.anchor)), s"links [$tag]")
      assert(text == OracleHtml.text(bytes), s"text [$tag]")
      assert(Html.scanPageHrefs(bytes).textXxh64 == xxh64(text), s"text hash [$tag]")
    }
    val strings = Seq(
      "<a href=\"héllo/漢.html\">ünïcode 😀 anchor</a> täil",
      "<p>é&amp;漢</p><a href='x'>😀</a>",
      "<script>var s='<a href=\"no\">';</script><a href=\"yes\">ok é</a>",
      "<a HREF=unquoted/路径>anchor</a>",
      "<a href=\"a\">one</a><a href=\"a\">dup</a><a href=\"b\">two</a>",
      "no links, just &lt;text&gt; &nbsp; ws\t\n collapse")
    strings.foreach(s => check(s.getBytes(UTF_8), s.take(30)))
    // invalid UTF-8: scanned as its decode-then-re-encode (U+FFFD for each
    // malformed sequence), which is what the oracle's String decode sees
    val invalid = Seq(
      Array[Byte]('<', 'a', ' ', 'h', 'r', 'e', 'f', '=', '"', 'x', '"', '>', 0xff.toByte, '<', '/', 'a', '>'),
      Array[Byte]('a', 0xc3.toByte), // truncated 2-byte seq
      Array[Byte]('a', 0xe0.toByte, 0x80.toByte, 0x80.toByte, 'b'), // overlong
      Array[Byte]('a', 0xed.toByte, 0xa0.toByte, 0x80.toByte, 'b')) // surrogate
    invalid.zipWithIndex.foreach { case (b, i) =>
      assert(!Html.isValidUtf8(b), s"vector $i should be invalid")
      check(b, s"invalid-$i")
    }
    assert(Html.isValidUtf8("é漢😀".getBytes(UTF_8)))
    pages.select(col("html")).collect().foreach(r => check(r.getAs[Array[Byte]](0), "corpus"))
  }

  test("U+0130 in tag names: frozen char-fold results") {
    // Character.toLowerCase folds U+0130 'İ' to 'i', so the frozen X1/X2
    // semantics read <scrİpt> as a script tag; the oracle's regexes fold
    // ASCII only and disagree, so these expectations are literal (hrefs,
    // anchors, text and xxhash64 of the text, from the char-level scanner
    // that preceded the single byte scanner)
    import java.nio.charset.StandardCharsets.UTF_8
    import graft.functions.Html
    val cases = Seq(
      ("<scrİpt>hidden('<a href=\"no\">')</scrİpt><a href=\"yes\">ok</a>",
        Seq("yes" -> "ok"), "ok", 1719218472297945969L),
      ("<SCRİPT>x</SCRİPT>visible", Seq.empty, "visible", 1105762535240250419L),
      ("<a İd=1 href=\"k\">kelvin K anchor</a>",
        Seq("k" -> "kelvin K anchor"), "kelvin K anchor", -6217299866867898253L),
      ("<styLE>a{}</style><stİle>not a style tag</stİle>",
        Seq.empty, "not a style tag", -5115931540108219146L),
      ("<a href=\"o\">pre <scrİpt>in body</scrİpt> post</a> tail",
        Seq("o" -> "pre post"), "pre post tail", -2803729254229134506L),
      ("<scrİpt x=1>a</scrİpt >b</script>c", Seq.empty, "bc", 8405177242434991006L))
    cases.foreach { case (html, links, text, hash) =>
      val b = html.getBytes(UTF_8)
      assert(Html.extractLinks(b).toSeq.map(l => (l.href, l.anchor)) == links, html)
      assert(Html.extractText(b) == text, html)
      val scan = Html.scanPageHrefs(b)
      assert(scan.hrefs.toSeq == links.map(_._1), html)
      assert(scan.textXxh64 == hash, html)
    }
  }

  test("U+0130 and U+212A are the ONLY non-ASCII chars that case-fold to ASCII") {
    // guards the byte scanner's single non-ASCII tag-name rule (C4 B0 where
    // a name has 'i'): if a future JDK Unicode update adds a third such char,
    // this fails loudly rather than letting the scanner silently diverge
    // from the Character.toLowerCase semantics of X1/X2
    val folding = (0x80 to 0xFFFF).filter { cp =>
      val lc = Character.toLowerCase(cp.toChar)
      lc < 0x80
    }
    assert(folding == Seq(0x0130, 0x212A), s"unexpected ASCII-folding chars: $folding")
    // supplementary planes: code-point API (the char path never sees these as
    // single chars, but pin the property anyway)
    val supp = (0x10000 to 0x10FFFF).filter(cp => Character.toLowerCase(cp) < 0x80)
    assert(supp.isEmpty, s"supplementary ASCII-folding code points: $supp")
  }

  test("hrefs-only scan ≡ full scan links.href — corpus + adversarial vectors (r6)") {
    import java.nio.charset.StandardCharsets.UTF_8
    import graft.functions.Html
    def check(bytes: Array[Byte], tag: String): Unit = {
      val hrefs = Html.scanPageHrefs(bytes)
      assert(hrefs.hrefs.toSeq == Html.extractLinks(bytes).toSeq.map(_.href), s"hrefs [$tag]")
      assert(hrefs.textXxh64 == xxh64(Html.extractText(bytes)), s"hash [$tag]")
    }
    val strings = Seq(
      "<a href=\"a\">one</a><a href=\"a\">dup</a><a href=\"b\">two</a>",
      "<a href='x'>nested <a href='y'>implicit close</a>",
      "<script><a href=\"no\"></script><a href=\"yes\">ok</a>",
      "<a HREF=unquoted/p>t</a>", "<a href=\"\">empty</a><a>none</a>",
      "<a href=\"h&amp;x\">entity href</a>",
      "<scrİpt>hidden('<a href=\"no\">')</scrİpt><a href=\"yes\">ok</a>")
    strings.foreach(s => check(s.getBytes(UTF_8), s.take(30)))
    check(Array[Byte]('<', 'a', ' ', 'h', 'r', 'e', 'f', '=', '"', 'x', '"', '>', 0xff.toByte, '<', '/', 'a', '>'), "invalid-utf8")
    pages.select(col("html")).collect().foreach(r => check(r.getAs[Array[Byte]](0), "corpus"))
  }

  test("resolve_links_gen ≡ explode + UrlCanon.canonParts(resolve) (r6)") {
    // the fused generator must emit exactly the rows the v1 pipeline kept
    // after its cp.isNotNull filter, in the same per-page href order
    val viaGen = pages.select(col("url"),
        CanonExpressions.pageScanHrefsCol(col("html")).as("s"))
      .select(col("url"),
        CanonExpressions.resolveLinksGenCol(col("url"), col("s.links"))
          .as(Seq("curl", "chost", "cpath", "csurt")))
      .collect().map(_.toSeq).toSeq.sortBy(_.toString)
    val viaOracle = pages.select(col("url").as("base"),
        explode(UrlFunctions.extractLinksUdf(col("html"))).as("l"))
      .select(col("base"), col("l.href")).collect()
      .map(r => oracleParts(r.getString(0), r.getString(1)))
      .filter(_(1) != null)
      .toSeq.sortBy(_.toString)
    assert(viaGen == viaOracle)
    assert(viaGen.nonEmpty, "trivially-empty comparison")
  }

  test("expression pipeline runs inside whole-stage codegen (no fallback)") {
    val df = pages.select(col("url"),
        CanonExpressions.pageScanHrefsCol(col("html")).as("s"))
      .select(col("url"), explode(col("s.links")).as("l"))
      .select(CanonExpressions.resolveCanonCol(col("url"), col("l")).as("cp"))
      .where(col("cp").isNotNull)
      .select(col("cp.surt"))
    df.collect() // force execution so codegen actually compiles
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*("), s"no whole-stage-codegen span:\n$plan")
  }

  test("SQL surface: every registered function is callable from spark.sql") {
    // GraftSession.create runs UrlFunctions.register; this drives each name
    // through the SQL parser so a rename or signature drift fails loudly
    val row = spark.sql(
      """SELECT
        |  canon_url('HTTP://Ex.COM:80/a/../b') AS c,
        |  surt('http://a.ex.com/p') AS s,
        |  host_of('http://a.ex.com/p') AS h,
        |  reg_host('a.b.ex.com') AS rh,
        |  host_reverse('a.ex.com') AS hr,
        |  resolve_link('http://ex.com/a/', '../c') AS rl,
        |  url_path('http://ex.com/a/b?q=1') AS up,
        |  size(extract_links(cast('<a href="/x">t</a>' AS BINARY))) AS nl,
        |  extract_text(cast('<p>hi</p>' AS BINARY)) AS tx,
        |  lang_id('the of and to in is it you that') AS li,
        |  doc_fingerprint('some repeated text some repeated text', 4) AS fp,
        |  minhash_sig(shingles64('a b c d e f g', 3), 16) AS mh,
        |  size(minhash_bands(minhash_sig(shingles64('a b c d e', 3), 16), 4, 4)) AS nb,
        |  jaccard64(shingles64('a b c d', 2), shingles64('a b c d', 2)) AS j,
        |  hamming64(simhash64('x y z'), simhash64('x y z')) AS hd,
        |  cosine_sim(array(cast(1.0 AS FLOAT), cast(0.0 AS FLOAT)),
        |             array(cast(1.0 AS FLOAT), cast(0.0 AS FLOAT))) AS cs,
        |  lsh_bucket(array(cast(1.0 AS FLOAT), cast(0.5 AS FLOAT)), 8) AS lb
        |""".stripMargin)
      .head()
    assert(row.getAs[String]("c") == "http://ex.com/b")
    assert(row.getAs[String]("hr") == "com.ex.a")
    assert(row.getAs[String]("rl") == "http://ex.com/c")
    assert(row.getAs[Int]("nl") == 1)
    assert(row.getAs[String]("li") == "en")
    assert(row.getAs[Double]("j") == 1.0)
    assert(row.getAs[Int]("hd") == 0)
    assert(math.abs(row.getAs[Double]("cs") - 1.0) < 1e-9)
  }
}

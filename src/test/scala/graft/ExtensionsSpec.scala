package graft

import org.apache.spark.sql.catalyst.expressions.{Expression, ScalaUDF}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{CanonUrl, ResolveCanonSurt, ResolveLink, SurtOf, UrlCanon, UrlFunctions}

/** GraftExtensions / CanonExpressions: the URL kernel names must (a) bind to
  * native expressions at ANALYSIS — SQL and Column-API forms of
  * `canon ∘ resolve` build ONE fused kernel call, standalone canon/surt/
  * resolve build their own native nodes, no ScalaUDF appears — and (b) be
  * value-exact vs the UrlCanon kernels on every input class, including the
  * null-base/absolute-href edge where a null-safe wrapper would diverge
  * (RFC 3986 §5.2.1 resolves an absolute href without reading the base).
  */
class ExtensionsSpec extends AnyFunSuite with SparkTestSession {

  import org.apache.spark.sql.DataFrame

  // parquet round-trip: a Seq-backed LocalRelation would be eagerly
  // evaluated by ConvertToLocalRelation, leaving no plan to assert on
  private def viaParquet(df: DataFrame, tag: String): DataFrame = {
    val p = tmpDir(tag) + "/data.parquet"
    df.write.mode("overwrite").parquet(p)
    spark.read.parquet(p)
  }

  // edge classes: absolute/relative/protocol-relative/fragment hrefs,
  // malformed both sides, null base with absolute href (defined!), null href
  private lazy val links: DataFrame = viaParquet({
    import spark.implicits._
    Seq[(String, String)](
      ("http://Ex.COM/a/b?utm_source=t&b=2", "../c/./d?z=1&a=2"),
      ("https://h.example:443/p/", "q.html#frag"),
      ("http://h.example/p", "//other.example/abs/path"),
      ("http://h.example/p", "HTTPS://UP.Example.org:8080/Z"),
      ("http://h.example/p", "mailto:x@y"),
      ("not a url", "rel/path"),
      (null, "http://orphan.example/ok"), // null base, absolute href: DEFINED
      (null, "rel/only"),                 // null base, relative href: null out
      ("http://h.example/p", null),
      ("http://h.example/deep/a/b/c", "../../up.html")
    ).toDF("base", "href")
  }, "extlinks")

  private def expected: Set[Seq[Any]] =
    links.collect().map { r =>
      val cp = UrlCanon.canonParts(UrlCanon.resolve(r.getString(0), r.getString(1)))
      Seq(if (cp == null) null else cp.url, if (cp == null) null else cp.surt)
    }.toSet

  private def analyzedExprs(plan: LogicalPlan): Seq[Expression] =
    plan.flatMap(_.expressions.flatMap(_.collect { case e => e }))

  /** Each of the two fused forms, built by `build(field)` (0 = url via canon,
    * 1 = surt via surt), analyzes to exactly one ResolveCanonSurt with no
    * ScalaUDF and no standalone ResolveLink left, and equals UrlCanon. */
  private def assertFused(form: String, build: Int => DataFrame): Unit =
    Seq(0, 1).foreach { field =>
      val df = build(field)
      val analyzed = df.queryExecution.analyzed
      val exprs = analyzedExprs(analyzed)
      assert(exprs.count(_.isInstanceOf[ResolveCanonSurt]) == 1, s"$form/$field:\n$analyzed")
      assert(!exprs.exists(e => e.isInstanceOf[ScalaUDF] || e.isInstanceOf[ResolveLink]),
        s"$form/$field:\n$analyzed")
      assert(df.collect().map(_.getString(0)).toSet == expected.map(_(field)), s"$form/$field")
    }

  test("SQL canon_url(resolve_link(..)) fuses to one resolve_canon_surt kernel") {
    links.createOrReplaceTempView("links_ext")
    assertFused("SQL", field => spark.sql(
      s"SELECT ${Seq("canon_url", "surt")(field)}(resolve_link(base, href)) AS v FROM links_ext"))
  }

  test("Column-API canonUdf(resolveUdf(..)) fuses too (the SQL functions' builders)") {
    val fns = Seq(UrlFunctions.canonUdf _, UrlFunctions.surtUdf _)
    assertFused("Column", field => links.select(
      fns(field)(UrlFunctions.resolveUdf(col("base"), col("href"))).as("v")))
  }

  test("standalone canon_url / surt UDFs become native expressions") {
    import spark.implicits._
    val raw = viaParquet(Seq("HTTP://Ex.COM:80/a/../b?utm_source=x&b=2&a=%41#f",
      "https://h.example/p/./q//r?", "not a url", "ftp://x/y").toDF("raw"), "extraw")
    raw.createOrReplaceTempView("raw_ext")
    val df = spark.sql("SELECT canon_url(raw) AS c, surt(raw) AS s FROM raw_ext")
    val analyzed = df.queryExecution.analyzed
    assert(analyzedExprs(analyzed).exists(_.isInstanceOf[CanonUrl]), s"$analyzed")
    assert(analyzedExprs(analyzed).exists(_.isInstanceOf[SurtOf]), s"$analyzed")
    assert(!analyzedExprs(analyzed).exists(_.isInstanceOf[ScalaUDF]), s"$analyzed")
    val got = df.collect().map(_.toSeq).toSet
    val exp = raw.collect().map { r =>
      Seq(UrlCanon.canonicalize(r.getString(0)), UrlCanon.surt(r.getString(0)))
    }.toSet
    assert(got == exp)

    links.createOrReplaceTempView("links_std")
    val rl = spark.sql("SELECT base, href, resolve_link(base, href) FROM links_std")
    val rlExprs = analyzedExprs(rl.queryExecution.analyzed)
    assert(rlExprs.exists(_.isInstanceOf[ResolveLink]) && !rlExprs.exists(_.isInstanceOf[ScalaUDF]))
    rl.collect().foreach { r =>
      assert(r.getString(2) == UrlCanon.resolve(r.getString(0), r.getString(1)), s"$r")
    }
  }

  test("a wrong argument count fails at analysis, naming the function") {
    links.createOrReplaceTempView("links_arity")
    Seq("canon_url" -> "base, href", "surt" -> "base, href", "resolve_link" -> "base").foreach {
      case (fn, args) =>
        val e = intercept[Exception](spark.sql(s"SELECT $fn($args) FROM links_arity"))
        assert(e.getMessage.contains(fn), e.getMessage)
    }
  }

  test("fused pipeline executes inside whole-stage codegen") {
    links.createOrReplaceTempView("links_ext2")
    val df = spark.sql(
      "SELECT canon_url(resolve_link(base, href)) AS u FROM links_ext2 WHERE base IS NOT NULL")
    df.collect() // force codegen compilation
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*("), s"no whole-stage-codegen span:\n$plan")
  }

  test("X1 generator: LATERAL VIEW extract_links ≡ UDF+explode, order preserved") {
    import graft.sources.SyntheticWeb
    val web = SyntheticWeb.WebConfig(seed = 77L, nPages = 60, nHosts = 6)
    val pages = viaParquet(SyntheticWeb.pages(spark, web).toDF()
      .select(col("url"), col("html")), "genpages")
    pages.createOrReplaceTempView("pages_gen")

    val viaGenerator = spark.sql(
      """SELECT url, l.href AS href, l.anchor AS anchor
        |FROM pages_gen
        |LATERAL VIEW extract_links_gen(html) l AS href, anchor""".stripMargin)
    val viaUdf = pages.select(col("url"),
      posexplode(UrlFunctions.extractLinksUdf(col("html"))).as(Seq("pos", "lk")))
      .select(col("url"), col("lk.href").as("href"), col("lk.anchor").as("anchor"), col("pos"))

    // plan: a Generate node over the native generator, no ScalaUDF anywhere
    val opt = viaGenerator.queryExecution.optimizedPlan
    assert(opt.collect { case g: org.apache.spark.sql.catalyst.plans.logical.Generate
        if g.generator.isInstanceOf[graft.functions.ExtractLinksGen] => g }.nonEmpty,
      s"no native Generate in:\n$opt")
    assert(!opt.expressions.exists(_.exists(_.isInstanceOf[ScalaUDF])), s"$opt")

    // values: multiset equality vs the v1 path, and per-page ORDER equality
    val gotRows = viaGenerator.collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    val udfRows = viaUdf.collect().map(r => ((r.getString(0), r.getInt(3)), (r.getString(1), r.getString(2))))
    assert(gotRows.length == udfRows.length && gotRows.length > 0)
    assert(gotRows.groupBy(identity).view.mapValues(_.length).toMap ==
      udfRows.map { case ((u, _), (h, a)) => (u, h, a) }
        .groupBy(identity).view.mapValues(_.length).toMap)
    // document order: each url is one input row, and Generate emits that
    // row's links consecutively in generator order — so grouping the raw
    // collect order by url recovers per-page emission order exactly
    val byUrlGen = gotRows.groupBy(_._1).view
      .mapValues(_.map(t => (t._2, t._3)).toSeq).toMap
    val byUrlUdf = udfRows.groupBy(_._1._1).view
      .mapValues(_.sortBy(_._1._2).map(_._2).toSeq).toMap
    assert(byUrlGen == byUrlUdf)
  }

  test("X1 generator ≡ UDF on non-byte-route pages (U+0130 tags, invalid UTF-8)") {
    import spark.implicits._
    // İ (U+0130) lowercases to ASCII 'i', so X1 sees <scrİpt> as a script
    // block and drops its links; invalid UTF-8 scans as its re-encode — the
    // generator must agree with the UDF it is pinned to on both
    val adversarial: Seq[Array[Byte]] = Seq(
      "<scrİpt><a href='/x'>x</a></scrİpt><a href='/y'>y</a>"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8),
      Array[Byte](0x3c, 0x61, 0x20, 0x68, 0x72, 0x65, 0x66, 0x3d, 0x27, 0x2f,
        0x7a, 0x27, 0x3e, 0xC3.toByte, 0x28, 0x3c, 0x2f, 0x61, 0x3e)) // bad UTF-8 anchor
    val df = adversarial.zipWithIndex.map { case (b, i) => (s"u$i", b) }.toDF("url", "html")
    df.createOrReplaceTempView("pages_adv")
    val gen = spark.sql(
      """SELECT url, l.href AS href, l.anchor AS anchor
        |FROM pages_adv LATERAL VIEW extract_links_gen(html) l AS href, anchor""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).sorted.toSeq
    val viaUdf = df.select(col("url"),
        explode(UrlFunctions.extractLinksUdf(col("html"))).as("lk"))
      .select(col("url"), col("lk.href"), col("lk.anchor"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).sorted.toSeq
    assert(gen == viaUdf, "generator diverges from the frozen X1 char semantics")
    assert(viaUdf.exists(_._2 == "/y") && !viaUdf.exists(_._2 == "/x"),
      "char semantics must drop links inside the case-folded script block")
  }

  test("X1 generator: Column API, empty html and zero-link pages emit nothing") {
    import spark.implicits._
    import graft.functions.CanonExpressions.extractLinksGenCol
    val df = viaParquet(Seq(
      ("p1", "<a href='/x'>one</a><a href=\"/y\">two</a>".getBytes("UTF-8")),
      ("p2", "no links here".getBytes("UTF-8")),
      ("p3", Array.empty[Byte])
    ).toDF("url", "html"), "genedge")
    val out = df.select(col("url"), extractLinksGenCol(col("html")))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(out.toSeq == Seq(("p1", "/x", "one"), ("p1", "/y", "two")))
  }

  test("null-base/absolute-href edge: fused ≡ UDF composition (no null-safe shortcut)") {
    // the one input class where nullSafeEval semantics would differ: the
    // fused kernel must still resolve the absolute href, as UrlCanon does
    val r = UrlCanon.canonParts(UrlCanon.resolve(null, "http://orphan.example/ok"))
    assert(r != null && r.url == "http://orphan.example/ok")
    import spark.implicits._
    val one = Seq((Option.empty[String], "http://orphan.example/ok")).toDF("base", "href")
    val viaFused = one.select(
      UrlFunctions.canonUdf(UrlFunctions.resolveUdf(col("base"), col("href"))).as("u"),
      UrlFunctions.resolveUdf(col("base"), col("href")).as("r"))
      .head()
    assert(viaFused.getString(0) == r.url)
    assert(viaFused.getString(1) == UrlCanon.resolve(null, "http://orphan.example/ok"))
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Html
import graft.model.CrawlConfig
import graft.oracle.{OracleCrawler, OracleHtml, OracleUrl}
import graft.plans.{Crawler, CrawlRound}
import graft.sources.{StateTable, SyntheticWeb}

/** THE correctness gate (SURVEY.md §0.3/§5.3): the Spark engine and the
  * independent single-threaded oracle agree on per-round frontier ordering,
  * URL-seen membership, fetch log, and byte-identical extracted text, under
  * the same seed list + politeness budget — across three frozen configs.
  */
class OracleEqualitySpec extends AnyFunSuite with SparkTestSession {

  val web = SyntheticWeb.WebConfig(seed = 42L, nPages = 300, nHosts = 12)
  lazy val pagesDf = SyntheticWeb.pages(spark, web).toDF().cache()
  lazy val robotsDf = SyntheticWeb.robotsTable(spark, web)

  lazy val pagesMap: Map[String, Array[Byte]] =
    (0L until web.nPages).map { id =>
      val p = SyntheticWeb.makePage(web, id); p.url -> p.html
    }.toMap

  lazy val robotsMap: Map[String, OracleCrawler.Policy] =
    robotsDf.collect().map(r =>
      r.getString(0) -> OracleCrawler.parseRobots(r.getString(1), 1.0)).toMap

  // ---- independent extractor cross-validation over the whole corpus ----
  test("oracle extractor ≡ engine extractor: byte-identical text, same links") {
    (0L until web.nPages).foreach { id =>
      val p = SyntheticWeb.makePage(web, id)
      assert(OracleHtml.text(p.html) == p.text, s"text mismatch page $id")
      val engineLinks = Html.extractLinks(p.html).toSeq.map(l => (l.href, l.anchor))
      val oracleLinks = OracleHtml.links(p.html).map(l => (l.href, l.anchor))
      assert(oracleLinks == engineLinks, s"links mismatch page $id")
    }
  }

  test("oracle URL functions ≡ engine URL functions on the corpus' link soup") {
    val bases = (0L until 50L).map(SyntheticWeb.pageUrl(web, _))
    bases.foreach { base =>
      SyntheticWeb.rawLinks(web, bases.indexOf(base).toLong).foreach { href =>
        val e = Option(graft.functions.UrlCanon.resolve(base, href))
        val o = OracleUrl.resolve(base, href)
        assert(o == e, s"resolve($base, $href)")
        val ec = e.flatMap(u => Option(graft.functions.UrlCanon.canonicalize(u)))
        val oc = o.flatMap(OracleUrl.canon)
        assert(oc == ec, s"canon of resolve($base, $href)")
        val es = ec.flatMap(u => Option(graft.functions.UrlCanon.surt(u)))
        val os = oc.flatMap(OracleUrl.surt)
        assert(os == es, s"surt of $ec")
      }
    }
  }

  // ---- full crawl equality under three frozen configs (FIXTURES.md §1.4) ----
  def compareCrawl(seeds: Seq[String], budget: Int, rounds: Int, tag: String,
      broadcastFetchMaxBudget: Int = 65536,
      exactAntiBroadcastMaxRows: Long = 500000L,
      robotsBroadcastMaxHosts: Long = 1000000L,
      robotsTable: org.apache.spark.sql.DataFrame = null,
      pages: org.apache.spark.sql.DataFrame = null): Unit = {
    val cfg = CrawlConfig(buckets = 16, roundBudget = budget, maxDepth = 10,
      broadcastFetchMaxBudget = broadcastFetchMaxBudget,
      exactAntiBroadcastMaxRows = exactAntiBroadcastMaxRows,
      robotsBroadcastMaxHosts = robotsBroadcastMaxHosts)
    val dir = tmpDir(s"oracle-$tag")
    Crawler.crawl(spark, dir, Option(pages).getOrElse(pagesDf),
      Option(robotsTable).getOrElse(robotsDf), seeds, cfg, rounds)
    val ocfg = OracleCrawler.Cfg(budget = budget, maxDepth = 10)
    val (ost, osnaps) = OracleCrawler.crawl(seeds, pagesMap, robotsMap, ocfg, rounds)

    // per-round frontier ordering (O1) — the BASELINE.json headline invariant
    (1 to rounds).foreach { v =>
      val eng = Crawler.orderedFrontier(spark, dir, Some(v.toLong))
        .select("surt", "depth", "score", "parent_surt").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getDouble(2), r.getString(3)))
      val orc = osnaps(v - 1).map(e => (e.surt, e.depth, e.score, e.parentSurt))
      assert(eng.length == orc.length, s"[$tag] frontier size round $v")
      eng.zip(orc).zipWithIndex.foreach { case (((es, ed, esc, ep), (os, od, osc, op)), i) =>
        assert(es == os && ed == od && ep == op, s"[$tag] frontier row $i round $v: $es vs $os")
        assert(math.abs(esc - osc) < 1e-9, s"[$tag] score $es round $v: $esc vs $osc")
      }
    }

    // URL-seen membership (exact)
    val engSeen = StateTable.readAppended(spark, CrawlRound.seenDir(dir))
      .select("surt").collect().map(_.getString(0)).toSet
    assert(engSeen == ost.seen.toSet, s"[$tag] seen set")

    // fetch log: per-round fetch sets + statuses + link counts
    val engLog = StateTable.readAppended(spark, CrawlRound.fetchLogDir(dir))
      .select("round", "surt", "status", "n_links").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3))).toSet
    val orcLog = ost.log.map(f => (f.round, f.surt, f.status, f.nLinks)).toSet
    assert(engLog == orcLog, s"[$tag] fetch log")

    // byte-identical extracted text per url: engine logged xxhash64(text);
    // hash the oracle's independently-extracted text with the same function
    import spark.implicits._
    val oracleTexts = ost.log.filter(_.status == 200).map(f => (f.surt, f.text)).toSeq.toDF("surt", "otext")
    val engHash = StateTable.readAppended(spark, CrawlRound.fetchLogDir(dir))
      .where(col("status") === 200).select("surt", "text_xxh64").distinct()
    val joined = engHash.join(oracleTexts.distinct(), Seq("surt"), "inner")
      .withColumn("ohash", xxhash64(col("otext")))
    assert(joined.count() > 0)
    assert(joined.where(col("text_xxh64") =!= col("ohash")).count() == 0,
      s"[$tag] extracted text bytes differ")
  }

  test("crawl equality — config 1: 10 seeds, K=40, 6 rounds") {
    compareCrawl(SyntheticWeb.seeds(web, 10), budget = 40, rounds = 6, tag = "c1")
  }

  test("crawl equality — config 2: 3 seeds incl. a disallowed URL, K=15, 8 rounds") {
    val seeds = Seq(
      SyntheticWeb.pageUrl(web, 0L),
      "http://h0.example/d3/blocked.html", // h0 disallows /d3/
      SyntheticWeb.pageUrl(web, 42L))
    compareCrawl(seeds, budget = 15, rounds = 8, tag = "c2")
  }

  test("crawl equality — config 4: merge-join fetch path (no broadcast), K=40, 4 rounds") {
    compareCrawl(SyntheticWeb.seeds(web, 10), budget = 40, rounds = 4, tag = "c4",
      broadcastFetchMaxBudget = 0)
  }

  test("crawl equality — config 5: D3 distributed anti-join arm (gate=0), K=40, 5 rounds") {
    compareCrawl(SyntheticWeb.seeds(web, 10), budget = 40, rounds = 5, tag = "c5",
      exactAntiBroadcastMaxRows = 0L)
  }

  test("crawl equality — config 6: robots JOIN arm (gate=0), disallowed seed, K=15, 6 rounds") {
    // same seeds as c2 so the seed-filter path and the per-round P2 filter
    // both run through the policy-table join instead of the broadcast map
    val seeds = Seq(
      SyntheticWeb.pageUrl(web, 0L),
      "http://h0.example/d3/blocked.html",
      SyntheticWeb.pageUrl(web, 42L))
    compareCrawl(seeds, budget = 15, rounds = 6, tag = "c6",
      robotsBroadcastMaxHosts = 0L)
  }

  test("crawl equality — config 7: seeds discovered robots→Sitemap:→readSeeds ≡ explicit") {
    import org.apache.spark.sql.functions.{concat, lit, when}
    val explicit = SyntheticWeb.seeds(web, 10)

    // "host" the seed URLs in two sitemap files announced by two hosts'
    // robots.txt (the harness substitutes download: announced URL → local
    // file written next to the others, exactly the Sitemaps contract)
    val smDir = tmpDir("oracle-c7-sitemaps")
    val (smA, smB) = explicit.splitAt(5)
    def writeSm(name: String, urls: Seq[String]): Unit =
      java.nio.file.Files.write(
        java.nio.file.Paths.get(smDir, name),
        urls.map(u => s"<url><loc>${u.replace("&", "&amp;")}</loc></url>")
          .mkString("<urlset>", "", "</urlset>")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    writeSm("sitemap-a.xml", smA)
    writeSm("sitemap-b.xml", smB)
    val hostA = SyntheticWeb.hostName(1)
    val hostB = SyntheticWeb.hostName(2)
    val robotsAug = robotsDf.withColumn("robots_txt",
      when(col("host") === hostA,
        concat(col("robots_txt"), lit(s"Sitemap: http://$hostA/sitemap-a.xml\n")))
        .when(col("host") === hostB,
          concat(col("robots_txt"), lit(s"Sitemap: http://$hostB/sitemap-b.xml\n")))
        .otherwise(col("robots_txt")))

    // DISCOVERY: robots table → Sitemap: directives → sitemap files → seeds
    val announced = graft.operators.Robots.sitemapTable(robotsAug)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(announced == Set(
      (hostA, s"http://$hostA/sitemap-a.xml"), (hostB, s"http://$hostB/sitemap-b.xml")))
    val discovered = graft.sources.Sitemaps.readSeeds(spark, smDir).collect().toSeq.sorted
    assert(discovered.toSet == explicit.toSet,
      s"discovery loop lost or altered seeds: ${discovered.toSet -- explicit.toSet} / ${explicit.toSet -- discovered.toSet}")

    // the crawl itself runs over the AUGMENTED robots (proving Sitemap:
    // directives perturb no policy decision) with the DISCOVERED seed list;
    // the oracle runs the plain robots map — full engine ≡ oracle equality
    compareCrawl(discovered, budget = 40, rounds = 5, tag = "c7",
      robotsTable = robotsAug)
  }

  test("crawl equality — config 8: url-bucketed+sorted pages table (merge arm)") {
    // the bucketed corpus layout the fetch SMJ's scale story relies on
    // (shuffle/sort-free on the pages side — plan-asserted in PlanSpec),
    // crossed END TO END: the same crawl over a CLUSTERED BY (url) SORTED BY
    // (url) catalog table must equal the oracle exactly, with the merge arm
    // forced (broadcast gate 0) so every fetch goes through the bucketed SMJ
    val dir = tmpDir("oracle-c8-bucketed")
    pagesDf.repartition(8, col("url"))
      .write.bucketBy(8, "url").sortBy("url")
      .option("path", s"$dir/pages_b").mode("overwrite").saveAsTable("oracle_c8_pages")
    try compareCrawl(SyntheticWeb.seeds(web, 10), budget = 40, rounds = 4, tag = "c8",
      broadcastFetchMaxBudget = 0, pages = spark.table("oracle_c8_pages"))
    finally spark.sql("DROP TABLE IF EXISTS oracle_c8_pages")
  }

  test("crawl equality — config 3: 25 seeds with dupes + messy forms, K=60, 5 rounds") {
    val base = SyntheticWeb.seeds(web, 20)
    val messy = base.take(5).map(_.replace("http://", "HTTP://h").replace("HTTP://hh", "HTTP://H") + "?utm_source=dup#x")
    compareCrawl(base ++ messy, budget = 60, rounds = 5, tag = "c3")
  }
}

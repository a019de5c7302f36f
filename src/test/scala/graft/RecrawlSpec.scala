package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.CrawlConfig
import graft.plans.{Crawler, CrawlRound, Recrawl, Resume}
import graft.sources.{StateTable, SyntheticWeb}

/** D5 cuckoo seen-filter arm + the recrawl maintenance operators
  * (scheduleRefetch / expireSeen) end-to-end on the synthetic web.
  */
class RecrawlSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  val web = SyntheticWeb.WebConfig(seed = 42L, nPages = 1000, nHosts = 40)
  val cfg = CrawlConfig(buckets = 16, roundBudget = 100, maxDepth = 10)
  lazy val pages = SyntheticWeb.pages(spark, web).toDF().cache()
  lazy val robots = SyntheticWeb.robotsTable(spark, web)
  lazy val seeds = SyntheticWeb.seeds(web, 10)

  private def seenMembers(dir: String): Set[String] =
    StateTable.readAppendedMerged(spark, CrawlRound.seenDir(dir),
      schema = Some(graft.model.Schemas.urlSeen))
      .select("surt").collect().map(_.getString(0)).toSet

  test("cuckoo seen-filter arm: crawl ≡ bloom arm; P4 holds; kind switch rebuilds") {
    val cfgC = cfg.copy(seenFilter = "cuckoo", compactEvery = 2) // force a mid-run forceFull rebuild
    val cfgB = cfg.copy(compactEvery = 2)
    val dC = tmpDir("crawl-ck")
    val dB = tmpDir("crawl-bl")
    val c1 = Crawler.crawl(spark, dC, pages, robots, seeds, cfgC, 6)
    val c2 = Crawler.crawl(spark, dB, pages, robots, seeds, cfgB, 6)
    assert(c1 == c2, "seen-filter kind changed crawl results")
    val a = Crawler.orderedFrontier(spark, dC).select("surt", "depth", "score").collect().toSeq
    val b = Crawler.orderedFrontier(spark, dB).select("surt", "depth", "score").collect().toSeq
    assert(a == b, "frontier diverges between filter kinds")
    // P4 for the cuckoo arm: every seen entry probes maybe-true
    val sDir = CrawlRound.seenDir(dC)
    val v = StateTable.currentVersion(sDir).get
    assert(graft.operators.SeenStore.latestMeta(sDir, v)
      .exists(_._1 == graft.operators.CuckooKind), "chain meta must record the cuckoo kind")
    val filters = graft.operators.SeenStore.readAll(sDir, v)
    assert(filters.nonEmpty)
    StateTable.readAppended(spark, sDir).select("host_bucket", "url_hash")
      .collect().foreach { r =>
        assert(graft.functions.Cuckoo64.mightContain(filters(r.getInt(0)), r.getLong(1)))
      }
    // kind switch mid-crawl (bloom chain resumed under cuckoo config): one
    // full rebuild under the new kind, identical results either side
    val more = Crawler.crawl(spark, dB, pages, robots, seeds, cfgB.copy(seenFilter = "cuckoo"), 8)
    val moreC = Crawler.crawl(spark, dC, pages, robots, seeds, cfgC, 8)
    assert(more == moreC, "kind switch mid-crawl changed results")
    val v2 = StateTable.currentVersion(CrawlRound.seenDir(dB)).get
    assert(graft.operators.SeenStore.latestMeta(CrawlRound.seenDir(dB), v2)
      .exists(_._1 == graft.operators.CuckooKind), "switched chain must record cuckoo")
  }

  test("scheduleRefetch re-fetches chosen URLs byte-identically; seen untouched") {
    val dir = tmpDir("crawl-rf")
    Crawler.crawl(spark, dir, pages, robots, seeds, cfg, 4)
    val logDir = CrawlRound.fetchLogDir(dir)
    val r1 = StateTable.readAppended(spark, logDir, schema = Some(graft.model.Schemas.fetchLog))
      .where(col("round") === 1 && col("status") === 200)
      .select("surt", "text_xxh64").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(r1.nonEmpty)
    val membersBefore = seenMembers(dir)
    val sel = r1.keys.toSeq.toDF("surt")
    val n = Recrawl.scheduleRefetch(spark, dir, cfg, sel)
    assert(n > 0 && n <= r1.size, s"scheduled $n of ${r1.size}")
    assert(Resume.lastCompleteVersion(dir).contains(5L), "maintenance commit must align all tables")
    assert(seenMembers(dir) == membersBefore, "refetch must not touch the seen set")
    // idempotent replay: calling again schedules nothing new (rows now in frontier)
    assert(Recrawl.scheduleRefetch(spark, dir, cfg, sel) == 0L)
    // continue: every scheduled URL is re-fetched with byte-identical text
    Crawler.crawl(spark, dir, pages, robots, seeds, cfg, 9)
    val refetched = StateTable.readAppended(spark, logDir, schema = Some(graft.model.Schemas.fetchLog))
      .where(col("round") > 5 && col("status") === 200)
      .select("surt", "text_xxh64").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val scheduled = r1.keySet.filter(refetched.contains)
    assert(scheduled.size >= n.toInt, s"only ${scheduled.size} of $n scheduled URLs re-fetched by round 9")
    scheduled.foreach { s =>
      assert(refetched(s) == r1(s), s"refetch of $s not byte-identical")
    }
  }

  test("scheduleRefetch skips expired URLs — frontier ⊆ seen survives expire-then-refetch") {
    val dir = tmpDir("crawl-rfex")
    Crawler.crawl(spark, dir, pages, robots, seeds, cfg, 4)
    val fetched = StateTable.readAppended(spark, CrawlRound.fetchLogDir(dir),
      schema = Some(graft.model.Schemas.fetchLog))
      .where(col("status") === 200).select("surt").distinct()
    assert(Recrawl.expireSeen(spark, dir, cfg, fetched) > 0)
    // the fetch log still lists every expired URL; refetching one would put
    // it in the frontier while absent from seen, so link re-discovery could
    // then add a SECOND frontier row for the same surt
    assert(Recrawl.scheduleRefetch(spark, dir, cfg, fetched) == 0L,
      "refetch must not resurrect URLs the expiry operator forgot")
    val stillSeen = seenMembers(dir)
    val f1 = CrawlRound.readFrontier(spark, dir).select("surt")
      .collect().map(_.getString(0)).toSeq
    assert(f1.toSet.subsetOf(stillSeen), "frontier ⊆ seen must hold after expire+refetch")
    // crawl on: expired URLs re-enter via links exactly once
    Crawler.crawl(spark, dir, pages, robots, seeds, cfg, 9)
    val f2 = Crawler.orderedFrontier(spark, dir).select("surt")
      .collect().map(_.getString(0)).toSeq
    assert(f2.size == f2.distinct.size, "re-discovery duplicated a frontier surt")
  }

  test("a half-committed version is completed only by the operation that began it") {
    val dir = tmpDir("crawl-chimera")
    Crawler.crawl(spark, dir, pages, robots, seeds, cfg, 2)
    // simulate an expireSeen that crashed after publishing ONE table at v3:
    // per-table idempotent replay is only sound for the SAME deterministic
    // writer, so every other operation must refuse to claim version 3
    StateTable.finalizeCommit(CrawlRound.hostStateDir(dir), 3L, 3L, 0L, Map("expired" -> 5L))
    val e = intercept[IllegalStateException] {
      Crawler.crawl(spark, dir, pages, robots, seeds, cfg, 4)
    }
    assert(e.getMessage.contains("maintenance"))
    val e2 = intercept[IllegalStateException] {
      Recrawl.scheduleRefetch(spark, dir, cfg, Seq("x").toDF("surt"))
    }
    assert(e2.getMessage.contains("expired"))
    // the same operation passes the guard and may complete the version
    assert(Recrawl.expireSeen(spark, dir, cfg, Seq.empty[String].toDF("surt")) == 0L)
  }

  test("retention GC keeps the base a retained maintenance delta reads through (full-commit mode)") {
    val cfgF = cfg.copy(frontierDeltaCommits = false, retentionVersions = 2)
    val dir = tmpDir("crawl-gc-maint")
    Crawler.crawl(spark, dir, pages, robots, seeds, cfgF, 3)
    val sel = StateTable.readAppended(spark, CrawlRound.fetchLogDir(dir),
      schema = Some(graft.model.Schemas.fetchLog))
      .where(col("status") === 200).select("surt").distinct()
    assert(Recrawl.scheduleRefetch(spark, dir, cfgF, sel) > 0) // delta commit at v4
    val atMaint = CrawlRound.readFrontier(spark, dir, Some(4L)).count()
    Crawler.crawl(spark, dir, pages, robots, seeds, cfgF, 5) // round 5 commits; GC retains {4,5}
    // v4 is inside the retention window: its read must still resolve the
    // full-snapshot base below it, not collapse to the refetch delta alone
    assert(CrawlRound.readFrontier(spark, dir, Some(4L)).count() == atMaint,
      "retained maintenance version lost its base to GC")
  }

  test("expireSeen forgets URLs; cuckoo fast path tightens while bloom stays fail-safe") {
    for (kind <- Seq("bloom", "cuckoo")) {
      val cfgK = cfg.copy(seenFilter = kind)
      val dir = tmpDir(s"crawl-ex-$kind")
      Crawler.crawl(spark, dir, pages, robots, seeds, cfgK, 4)
      val sDir = CrawlRound.seenDir(dir)
      // the chain the expiry starts from carries keys deltas
      val vBefore = StateTable.currentVersion(sDir).get
      assert((1L to vBefore).exists(sidecarFiles(sDir, _).exists(_.endsWith(".keys"))),
        s"$kind: no keys delta before the expiry — the chain was never crossed")
      val fetched = StateTable.readAppended(spark, CrawlRound.fetchLogDir(dir),
        schema = Some(graft.model.Schemas.fetchLog))
        .where(col("status") === 200).select("surt").distinct()
      val before = seenMembers(dir)
      val n = Recrawl.expireSeen(spark, dir, cfgK, fetched)
      assert(n > 0)
      val after = seenMembers(dir)
      assert(before.size - after.size == n.toInt, "membership must shrink by exactly n")
      val expired = before -- after
      val v = StateTable.currentVersion(sDir).get
      val filters = graft.operators.SeenStore.readAll(sDir, v)
      val seenRows = StateTable.readAppended(spark, sDir) // raw chain incl. ghost rows
        .select("surt", "host_bucket", "url_hash").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
      val kindObj = graft.operators.FilterKind(kind)
      // P4 for the REMAINING members under either kind
      seenRows.filter(t => after(t._1)).foreach { case (_, b, h) =>
        assert(kindObj.mightContain(filters(b), h), s"$kind lost a live member")
      }
      val expiredRows = seenRows.filter(t => expired(t._1))
      val staleTrue = expiredRows.count { case (_, b, h) => kindObj.mightContain(filters(b), h) }
      if (kind == "cuckoo") {
        assert(staleTrue == 0,
          s"cuckoo fast path not tightened: $staleTrue/${expiredRows.length} expired still probe true")
        // the deletion wrote full filters, resetting every touched chain
        assert(sidecarFiles(sDir, v).exists(_.endsWith(".bloom")) &&
          !sidecarFiles(sDir, v).exists(_.endsWith(".keys")))
      } else
        assert(staleTrue == expiredRows.length,
          "bloom cannot forget — expired entries must remain (fail-safe) positives")
      // the crawl continues, re-discovers expired URLs via links, and
      // re-admits them as new seen entries stamped after the expiry version
      Crawler.crawl(spark, dir, pages, robots, seeds, cfgK, 8)
      val finalSeen = StateTable.readAppendedMerged(spark, sDir,
        schema = Some(graft.model.Schemas.urlSeen))
        .select("surt", "first_round").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val readded = expired.filter(finalSeen.contains)
      assert(readded.nonEmpty, "no expired URL was re-discovered — vacuous expiry test")
      readded.foreach { s =>
        assert(finalSeen(s) > 5L, s"re-added $s carries a stale first_round ${finalSeen(s)}")
      }
    }
  }
}

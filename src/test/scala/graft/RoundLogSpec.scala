package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.model.CrawlConfig
import graft.plans.{Crawler, CrawlRound, Resume}
import graft.sources.{RoundLog, StateTable, SyntheticWeb}

/** The round-level commit protocol (round 5, r4 verdict #6): one manifest +
  * one CURRENT per crawl round instead of four of each. Unit round-trips of
  * the nested manifest format, crash injection on the new commit window, the
  * MIGRATION read path (an r4-era per-table state dir resumed by round-log
  * code, incl. a half-committed legacy round), and retention GC across the
  * mixed chain.
  */
class RoundLogSpec extends AnyFunSuite with SparkTestSession {

  private def m(v: Long, rows: Long, counters: Map[String, Long] = Map.empty,
      compacted: Boolean = false) =
    StateTable.Manifest(v, v, rows, counters, v - 1, if (compacted) v else -1L)

  test("render/parse round-trip: nested per-table manifests, counters, flags") {
    val dir = tmpDir("roundlog")
    val tables = Map(
      "frontier" -> m(3, 120, Map(StateTable.DelsCounter -> 40L, "admitted" -> 40L)),
      "url_seen" -> m(3, 77, Map("candidates" -> 200L), compacted = true),
      "host_state" -> m(3, 12),
      "fetch_log" -> m(3, 40, Map("fetched200" -> 33L)))
    val pub = RoundLog.publish(dir, 3L, 3L, tables)
    assert(pub.tables == tables)
    val back = RoundLog.manifest(dir, 3L).get
    assert(back.version == 3L && back.round == 3L && back.tables == tables)
    assert(RoundLog.currentVersion(dir).contains(3L))
    assert(RoundLog.tableManifest(dir, "url_seen", 3L).exists(_.compactedThrough == 3L))
    assert(RoundLog.tableManifest(dir, "nope", 3L).isEmpty)
    // parse from the raw file too (not just the write-through cache)
    val raw = Files.readString(Paths.get(dir, "_round_log", "3.json"))
    assert(RoundLog.parse(raw) == back)
  }

  test("publish is idempotent and repairs a stale CURRENT forward") {
    val dir = tmpDir("roundlog")
    val t = Map("frontier" -> m(1, 10))
    RoundLog.publish(dir, 1L, 1L, t)
    // idempotent: a second publish with DIFFERENT content must not win
    val again = RoundLog.publish(dir, 1L, 1L, Map("frontier" -> m(1, 999)))
    assert(again.tables("frontier").nRows == 10L)
    // stale CURRENT (crash between manifest move and pointer move)
    Files.writeString(Paths.get(dir, "_round_log", "CURRENT"), "0")
    assert(RoundLog.alreadyCommitted(dir, 1L).isDefined)
    assert(RoundLog.currentVersion(dir).contains(1L))
  }

  test("expireTable retires tables independently; file dies with its last table") {
    val dir = tmpDir("roundlog")
    RoundLog.publish(dir, 1L, 1L, Map("frontier" -> m(1, 10), "url_seen" -> m(1, 5)))
    RoundLog.expireTable(dir, "frontier", Seq(1L))
    assert(RoundLog.versionsFor(dir, "frontier").isEmpty)
    assert(RoundLog.versionsFor(dir, "url_seen") == Seq(1L))
    assert(RoundLog.tableManifest(dir, "url_seen", 1L).exists(_.nRows == 5L))
    RoundLog.expireTable(dir, "url_seen", Seq(1L))
    assert(!Files.exists(Paths.get(dir, "_round_log", "1.json")))
  }

  // ---- engine-level: crash, migration, and mixed-chain GC ----

  private val web = SyntheticWeb.WebConfig(seed = 42L, nPages = 600, nHosts = 24)
  private val cfg = CrawlConfig(buckets = 16, roundBudget = 60, maxDepth = 10)
  private lazy val pages = SyntheticWeb.pages(spark, web).toDF().cache()
  private lazy val robots = SyntheticWeb.robotsTable(spark, web)
  private lazy val seeds = SyntheticWeb.seeds(web, 8)

  private def frontierOf(dir: String, v: Option[Long] = None) =
    Crawler.orderedFrontier(spark, dir, v).select("surt", "depth", "score").collect().toSeq
  private def seenOf(dir: String, v: Option[Long] = None) =
    StateTable.readAppended(spark, CrawlRound.seenDir(dir), v)
      .select("surt").collect().map(_.getString(0)).toSet

  private def rmTree(p: java.nio.file.Path): Unit = {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .iterator.asScala.foreach(Files.deleteIfExists(_))
    finally s.close()
  }

  private def filtersOf(dir: String, v: Long) =
    graft.operators.SeenStore.readAll(CrawlRound.seenDir(dir), v).map { case (b, f) => b -> f.toSeq }

  /** An r4-era state dir: rewrite every round-log version as four per-table
    * manifests + CURRENTs (exactly what finalizeCommit wrote), then drop the
    * round log. Converts a fresh crawl into the legacy layout so migration
    * is testable without old code.
    */
  private def downgradeToPerTable(dir: String): Unit = {
    val tableDir = Map(
      "frontier" -> CrawlRound.frontierDir(dir),
      "url_seen" -> CrawlRound.seenDir(dir),
      "host_state" -> CrawlRound.hostStateDir(dir),
      "fetch_log" -> CrawlRound.fetchLogDir(dir))
    val vs = RoundLog.versionsFor(dir, "frontier")
    assert(vs.nonEmpty, "downgrade of a dir with no round commits is vacuous")
    vs.foreach { v =>
      val rm = RoundLog.manifest(dir, v).get
      rm.tables.foreach { case (name, tm) =>
        StateTable.finalizeCommit(tableDir(name), v, tm.round, tm.nRows, tm.counters,
          compacted = tm.compactedThrough == tm.version)
      }
      // finalizeCommit normalizes parent/compactedThrough the same way the
      // round publish did, so the rewritten manifest must be IDENTICAL
      rm.tables.foreach { case (name, tm) =>
        assert(StateTable.manifest(tableDir(name), v).contains(tm),
          s"downgraded manifest for $name@$v diverges")
      }
    }
    // remove the round log entirely — the dir is now pure r4 layout (and
    // model the fresh driver that opens it: no cached round manifests)
    rmTree(Paths.get(dir, "_round_log"))
    RoundLog.clearCache()
  }

  test("rounds commit ONE round manifest + CURRENT; no per-table publishes") {
    val dir = tmpDir("roundlog-e2e")
    Crawler.crawl(spark, dir, pages, robots, seeds, cfg, 3)
    // versions 1..3 live ONLY in the round log; per-table logs hold just the
    // seed commits (v0; fetch_log has none)
    (1L to 3L).foreach { v =>
      assert(RoundLog.manifest(dir, v).exists(_.tables.keySet ==
        Set("frontier", "url_seen", "host_state", "fetch_log")))
      Seq(CrawlRound.frontierDir(dir), CrawlRound.seenDir(dir),
        CrawlRound.hostStateDir(dir), CrawlRound.fetchLogDir(dir)).foreach { td =>
        assert(!Files.exists(Paths.get(td, "_log", s"$v.json")),
          s"per-table manifest leaked at $td v$v")
        // ...but the indirection resolves it
        assert(StateTable.manifest(td, v).isDefined)
        assert(StateTable.currentVersion(td).contains(3L))
      }
    }
    assert(Resume.lastCompleteVersion(dir).contains(3L))
  }

  test("crash injection: data written, round publish missing → invisible, resume completes") {
    val dUninterrupted = tmpDir("roundlog-crash-ref")
    Crawler.crawl(spark, dUninterrupted, pages, robots, seeds, cfg, 5)
    val dir = tmpDir("roundlog-crash")
    Crawler.crawl(spark, dir, pages, robots, seeds, cfg, 4)
    // simulate a kill between the four data writes (incl. sidecars) and the
    // single publish: delete round 4's commit point, reset CURRENT to 3 —
    // snap dirs, dels and bloom sidecars at v4 become unreferenced orphans
    Files.delete(Paths.get(dir, "_round_log", "4.json"))
    Files.writeString(Paths.get(dir, "_round_log", "CURRENT"), "3")
    // the kill lands after v4's sidecar keys files AND meta were written
    val sDir = CrawlRound.seenDir(dir)
    val keys4 = sidecarFiles(sDir, 4L).filter(_.endsWith(".keys"))
    assert(keys4.nonEmpty && sidecarFiles(sDir, 4L).contains("meta"), "v4 wrote no keys delta")
    // and a stale full filter (all bits clear) sits at v4 beside the keys of
    // a bucket the replay writes again: were it kept, v4 would resolve that
    // bucket to nothing
    val stale = keys4.head.stripSuffix(".keys") + ".bloom"
    val zeros = graft.functions.Bloom64.emptyBits(graft.operators.SeenStore.metaOf(sDir, 4L)._2)
    val buf = java.nio.ByteBuffer.allocate(zeros.length * 8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    zeros.foreach(buf.putLong)
    Files.write(Paths.get(sDir, "_bloom", "4", stale), buf.array())
    // fresh JVM state: a real crash starts a new driver, so the write-through
    // manifest cache must not resurrect the deleted commit point here
    RoundLog.clearCache()
    assert(Resume.lastCompleteVersion(dir).contains(3L), "orphan data visible")
    val resumed = Crawler.crawl(spark, dir, pages, robots, seeds, cfg, 5)
    assert(resumed.map(_.round) == Seq(4L, 5L))
    assert(frontierOf(dir) == frontierOf(dUninterrupted))
    assert(seenOf(dir) == seenOf(dUninterrupted))
    assert(!sidecarFiles(sDir, 4L).contains(stale), "replay kept the stale full filter")
    (0L to 5L).foreach { v =>
      assert(filtersOf(dir, v) == filtersOf(dUninterrupted, v), s"resolved filters differ at v$v")
    }
  }

  test("kill inside the concurrent delta writes: resume ≡ uninterrupted at every version") {
    val dRef = tmpDir("roundlog-midwrite-ref")
    val cRef = Crawler.crawl(spark, dRef, pages, robots, seeds, cfg, 5)
    val dir = tmpDir("roundlog-midwrite")
    Crawler.crawl(spark, dir, pages, robots, seeds, cfg, 4)
    // the kill lands while round 4's four data writes run: fetch_log and
    // url_seen (with its sidecars) have written v4, frontier and host_state
    // have not, one of host_state's task attempts left an unfinished part
    // file under snap-4/_temporary, and nothing was published
    Files.delete(Paths.get(dir, "_round_log", "4.json"))
    Files.writeString(Paths.get(dir, "_round_log", "CURRENT"), "3")
    val fDir = CrawlRound.frontierDir(dir)
    val hDir = CrawlRound.hostStateDir(dir)
    Seq(StateTable.snapPath(fDir, 4L), StateTable.delPath(fDir, 4L), StateTable.snapPath(hDir, 4L))
      .foreach(p => rmTree(Paths.get(p)))
    assert(Files.exists(Paths.get(StateTable.snapPath(CrawlRound.fetchLogDir(dir), 4L))))
    assert(Files.exists(Paths.get(StateTable.snapPath(CrawlRound.seenDir(dir), 4L))))
    val attempt = Paths.get(StateTable.snapPath(hDir, 4L), "_temporary", "0", "_temporary", "attempt_0")
    Files.createDirectories(attempt)
    val part3 = { val s = Files.list(Paths.get(StateTable.snapPath(hDir, 3L)))
      try s.iterator.asScala.find(_.getFileName.toString.endsWith(".parquet")).get finally s.close() }
    Files.copy(part3, attempt.resolve("part-00000.parquet"))
    RoundLog.clearCache()
    assert(Resume.lastCompleteVersion(dir).contains(3L), "partial round visible")
    val resumed = Crawler.crawl(spark, dir, pages, robots, seeds, cfg, 5)
    assert(resumed == cRef.drop(3), "resumed rounds' counters differ")
    (1L to 5L).foreach { v =>
      assert(RoundLog.manifest(dir, v).map(_.tables) == RoundLog.manifest(dRef, v).map(_.tables),
        s"manifests differ at v$v")
    }
    (0L to 5L).foreach { v =>
      assert(frontierOf(dir, Some(v)) == frontierOf(dRef, Some(v)), s"frontier differs at v$v")
      assert(seenOf(dir, Some(v)) == seenOf(dRef, Some(v)), s"seen differs at v$v")
      assert(filtersOf(dir, v) == filtersOf(dRef, v), s"resolved filters differ at v$v")
    }
  }

  test("migration: r4-era per-table state dir resumes under round-log commits") {
    val dRef = tmpDir("roundlog-mig-ref")
    Crawler.crawl(spark, dRef, pages, robots, seeds, cfg, 6)
    val dir = tmpDir("roundlog-mig")
    Crawler.crawl(spark, dir, pages, robots, seeds, cfg, 3)
    downgradeToPerTable(dir) // now an exact r4 layout: per-table manifests only
    assert(Resume.lastCompleteVersion(dir).contains(3L))
    val resumed = Crawler.crawl(spark, dir, pages, robots, seeds, cfg, 6)
    assert(resumed.map(_.round) == Seq(4L, 5L, 6L))
    // mixed chain reads: v1-3 resolve per-table, v4-6 via the round log
    (1L to 6L).foreach { v =>
      assert(StateTable.manifest(CrawlRound.seenDir(dir), v).isDefined, s"seen manifest v$v")
    }
    assert(frontierOf(dir) == frontierOf(dRef))
    assert(seenOf(dir) == seenOf(dRef))
  }

  test("migration + legacy crash: half-committed per-table round is completed verbatim") {
    val dRef = tmpDir("roundlog-legacy-ref")
    Crawler.crawl(spark, dRef, pages, robots, seeds, cfg, 5)
    val dir = tmpDir("roundlog-legacy")
    Crawler.crawl(spark, dir, pages, robots, seeds, cfg, 4)
    downgradeToPerTable(dir)
    // legacy crash at v4: two of the four tables finalized per-table, the
    // other two (and the round pointer) missing — exactly what an r4 kill
    // between serial finalizes left behind
    Seq(CrawlRound.frontierDir(dir), CrawlRound.seenDir(dir)).foreach { td =>
      Files.delete(Paths.get(td, "_log", "4.json"))
      Files.writeString(Paths.get(td, "_log", "CURRENT"), "3")
    }
    assert(Resume.lastCompleteVersion(dir).contains(3L))
    val resumed = Crawler.crawl(spark, dir, pages, robots, seeds, cfg, 5)
    assert(resumed.map(_.round) == Seq(4L, 5L))
    // the two surviving per-table manifests were adopted into round 4's
    // publish (the replay skipped their data writes — migration composes
    // with idempotent replay)
    assert(RoundLog.tableManifest(dir, "host_state", 4L).isDefined)
    assert(frontierOf(dir) == frontierOf(dRef))
    assert(seenOf(dir) == seenOf(dRef))
  }

  test("retention GC prunes round manifests table-by-table on the mixed chain") {
    val cfgR = cfg.copy(compactEvery = 2, retentionVersions = 3)
    val dir = tmpDir("roundlog-gc")
    Crawler.crawl(spark, dir, pages, robots, seeds, cfgR, 8)
    // bounded history per table (same assertions as CrawlSpec's GC test, now
    // resolved through the round log)
    val fv = StateTable.versions(CrawlRound.frontierDir(dir))
    assert(fv.size < 9 && fv.min > 0, s"frontier versions not expired: $fv")
    val sv = StateTable.versions(CrawlRound.seenDir(dir))
    assert(sv.size < 9, s"seen versions not expired: $sv")
    // no ghost round files: every remaining round manifest still carries at
    // least one live table, and none below ALL cutoffs survives
    val rl = Paths.get(dir, "_round_log")
    val files = { val s = Files.list(rl); try s.iterator.asScala
      .map(_.getFileName.toString).filter(_.endsWith(".json")).toSeq finally s.close() }
    val allTables = Seq("frontier", "url_seen", "host_state", "fetch_log")
    files.map(_.stripSuffix(".json").toLong).foreach { v =>
      assert(allTables.exists(t => RoundLog.tableManifest(dir, t, v).isDefined),
        s"ghost round manifest at v$v")
    }
    // still resumes after GC
    val more = Crawler.crawl(spark, dir, pages, robots, seeds, cfgR, 10)
    assert(more.map(_.round) == Seq(9L, 10L))
  }
}
